package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties (SURVEY.md §5.3): the A4 rounding identity over
  * random float averages and a parse-back round-trip of the report
  * formatter.
  */
class PropertySpec extends AnyFunSuite with TempDirs {
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, res.status.toString)
  }

  test("property: floor(x)+1 == Math.round(x + 0.5f) for all finite float averages") {
    check(Prop.forAll(Gen.chooseNum(-1e6f, 1e6f)) { x =>
      (math.floor(x.toDouble) + 1).toInt == Math.round(x + 0.5f)
    })
  }

  test("property: prefix-filtered Jaccard pairs == brute force on random corpora") {
    import TestSpark.spark
    import spark.implicits._
    // Small vocab so shingles collide across docs and near-dup pairs
    // occur; exercises the prefix-length ceil edge (doc sizes where n*0.8
    // is integral). Corpora stay under dfCap, so this property is the
    // EXACT-recall regime; the deliberate above-cap miss is pinned
    // separately in DedupSpec's mass-dup contract test.
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.chooseNum(3, 14).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.chooseNum(6, 16).flatMap(n => Gen.listOfN(n, doc))
    val p = Prop.forAll(corpus) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, "en", t) }
      val df = rows.toDF("doc_id", "lang", "text")
      val got = ops.DedupOps.ngramJaccardPairs(df, 0.8).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def sh(t: String): Set[String] = {
        val w = t.split(" ")
        (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
      }
      val want = (for {
        (a, _, ta) <- rows; (b, _, tb) <- rows
        if a < b
        sa = sh(ta); sb = sh(tb)
        if sa.nonEmpty && sb.nonEmpty
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        // mirror the 6dp rounding the operator applies before thresholding
        if BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.8
      } yield (a, b)).toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  test("property: dedupClusters == union-find on random graphs") {
    import TestSpark.spark
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.chooseNum(2, 40)
      m <- Gen.chooseNum(1, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1); b <- Gen.chooseNum(0, n - 1)
        if a != b
      } yield (a.toLong, b.toLong))
    } yield es
    val p = Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        val got = ops.DedupOps.dedupClusters(es.toDF("doc_a", "doc_b"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        // driver-side union-find with min-id roots
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p0 = parent.getOrElseUpdate(x, x)
          if (p0 == x) x else { val r = find(p0); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(v => (v, find(v))).toMap
        got == want
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), p)
    assert(res.passed, res.status.toString)
  }

  test("property: packShards == sequential greedy packing on random corpora") {
    import TestSpark.spark
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 120)
      sizes <- Gen.listOfN(n, Gen.chooseNum(1L, 900L))
      budget <- Gen.chooseNum(100L, 2000L)
    } yield (sizes, budget)
    val p = Prop.forAll(gen) { case (sizes, budget) =>
      val docs = sizes.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "n_chars")
      // small bucket so multiple buckets + offsets actually engage
      val got = ops.TextOps.packShards(docs, budgetChars = budget, bucketSize = 16)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toList.sorted
      var cum = 0L
      val want = sizes.zipWithIndex.map { case (s, i) =>
        val shard = cum / budget; cum += s; (i.toLong, shard)
      }.toList
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("property: mergeUpsert == driver-side map merge; delete-then-same-merge is idempotent") {
    import TestSpark.spark
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      baseVals <- Gen.listOfN(n, Gen.chooseNum(0, 999))
      nc <- Gen.chooseNum(0, 30)
      cdc <- Gen.listOfN(nc, for {
        k <- Gen.chooseNum(0L, 80L) // overlaps base keys AND new keys
        op <- Gen.oneOf("U", "I", "D")
        v <- Gen.chooseNum(0, 999)
      } yield (k, op, v))
    } yield (baseVals, cdc)
    val p = Prop.forAll(gen) { case (baseVals, rawOps) =>
      val base = baseVals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      // one op per key (MERGE's precondition, as in any CDC compaction)
      val chg = rawOps.groupBy(_._1).map(_._2.head).toList
      val baseDf = base.toDF("k", "v")
      val chgDf = chg.map { case (k, o, v) => (k, o, v) }.toDF("k", "op", "v")
      val got = ops.SourceSinkOps.mergeUpsert(baseDf, chgDf, "k")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toList.sorted
      val touched = chg.map(_._1).toSet
      val want = (base.filterNot { case (k, _) => touched.contains(k) } ++
        chg.collect { case (k, o, v) if o != "D" => (k, v) }).sorted
      // applying the SAME change set to the merged result changes nothing
      // (U/I converge to the new value, D stays deleted)
      val again = ops.SourceSinkOps.mergeUpsert(
          got.toDF("k", "v"), chgDf, "k")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toList.sorted
      got == want && again == got
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("property: bloom filters never false-negative; merge == rebuild") {
    // The keyed store's GET fast path relies on "reject ⇒ definitely
    // absent": every inserted hash must probe positive, on the directly
    // built filter AND on any merge of partial filters (Spark's partial
    // aggregation path) — merge-of-splits must equal build-of-whole.
    val agg = new graft.functions.BloomAgg(1024, 7)
    val hashes = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, (1L << 60) - 1)))
    val p = Prop.forAll(hashes, Gen.chooseNum(1, 5)) { (hs, splitAt) =>
      val whole = hs.foldLeft(agg.zero)(agg.reduce)
      val parts = hs.grouped(math.max(1, hs.size / splitAt)).toList
        .map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = parts.reduce(agg.merge)
      val wb = agg.finish(whole.clone())
      java.util.Arrays.equals(agg.finish(merged.clone()), wb) &&
        hs.forall(h => graft.functions.BloomAgg.maybeContains(wb, h, 7))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("property: int8 quantization error is bounded by scale/2") {
    import TestSpark.spark
    import spark.implicits._
    val vec = Gen.chooseNum(1, 16).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(-100f, 100f)).suchThat(_.exists(_ != 0f)))
    val p = Prop.forAll(Gen.listOfN(5, vec)) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val rows = ops.SimilarityOps.quantizeEmbeddings(df).collect()
      rows.forall { r =>
        val id = r.getLong(0).toInt
        val v = vs(id).map(_.toDouble)
        val amax = v.map(math.abs).max
        val scale = amax / 127.0
        // reconstruct from the same rounding and check the bound per dim
        v.forall { x =>
          val q = BigDecimal(x * 127.0 / amax)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt
          math.abs(x - q * scale) <= scale / 2 + 1e-9
        } && r.getInt(2) >= -127 && r.getInt(3) <= 127
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("property: pageRank equals a driver-side reference on random graphs") {
    import TestSpark.spark
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.chooseNum(2, 6)
      m <- Gen.chooseNum(1, 12)
      es <- Gen.listOfN(m, for {
        s <- Gen.chooseNum(0, n - 1); d <- Gen.chooseNum(0, n - 1)
        w <- Gen.chooseNum(1, 5)
      } yield (s.toString, d.toString, w.toLong))
    } yield es
    val p = Prop.forAll(edgeGen) { es =>
      // collapse duplicate edges like the operator's input contract
      val edges = es.groupBy(e => (e._1, e._2))
        .map { case ((s, d), g) => (s, d, g.map(_._3).sum) }.toList
      val df = edges.toDF("src", "dst", "wgt")
      val got = ops.GraphOps.pageRank(df, iters = 3).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // driver-side reference: same integer div arithmetic
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val n = nodes.length.toLong
      val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      var pr = nodes.map(_ -> 1000000L / n).toMap
      (1 to 3).foreach { _ =>
        val in = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        edges.foreach { case (s, d, w) => in(d) += pr(s) * w / outW(s) }
        pr = nodes.map(v => v -> (150000L / n + 850000L * in(v) / 1000000L)).toMap
      }
      got == pr
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  test("property: kCore and kTruss equal driver-side fixpoint peels on " +
       "random graphs") {
    import TestSpark.spark
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.chooseNum(3, 10)
      m <- Gen.chooseNum(2, 20)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1); b <- Gen.chooseNum(0, n - 1)
      } yield (a.toLong, b.toLong))
    } yield es.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct
    def coreRef(es: List[(Long, Long)], k: Int): Map[Long, Long] = {
      var edges = es.toSet
      var changed = true
      while (changed) {
        val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val next = edges.filter(e => deg(e._1) >= k && deg(e._2) >= k)
        changed = next.size != edges.size
        edges = next
      }
      edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    def suppOf(e: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = e.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      e.toSeq.map { case (u, v) =>
        (u, v) -> adj(u).intersect(adj(v)).size.toLong }.toMap
    }
    def trussRef(es: List[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
      var edges = es.toSet
      var changed = true
      while (changed) {
        val s = suppOf(edges)
        val next = edges.filter(e => s(e) >= k - 2)
        changed = next.size != edges.size
        edges = next
      }
      suppOf(edges)
    }
    val p = Prop.forAll(edgeGen) { es =>
      val df = es.toDF("u", "v")
      // rounds far past any fixpoint on <= 10 nodes: the early stop must
      // land the operators exactly on the reference fixpoints.
      val gotCore = ops.GraphOps.kCore(df, k = 2, rounds = 15).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotTruss = ops.GraphOps.kTruss(df, k = 3, rounds = 15).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      gotCore == coreRef(es, 2) && gotTruss == trussRef(es, 3)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, res.status.toString)
  }

  test("property: funnel stage counts equal a driver-side reference on random event sets") {
    import TestSpark.spark
    import spark.implicits._
    val evGen = for {
      n <- Gen.chooseNum(5, 60)
      es <- Gen.listOfN(n, for {
        u <- Gen.chooseNum(0L, 5L)
        t <- Gen.oneOf("view", "click", "purchase", "error")
        ts <- Gen.chooseNum(0L, 50L)
      } yield (u, t, ts))
    } yield es
    val p = Prop.forAll(evGen) { es =>
      val df = es.toDF("user_id", "event_type", "ts_us")
      val row = ops.AnalyticsOps.funnelStages(df).collect()(0)
      val byUser = es.groupBy(_._1)
      def firstAfter(u: Long, t: String, after: Long): Option[Long] = {
        val c = byUser(u).filter(e => e._2 == t && e._3 > after).map(_._3)
        if (c.isEmpty) None else Some(c.min)
      }
      var nV = 0L; var nC = 0L; var nP = 0L
      byUser.keys.foreach { u =>
        val vs = byUser(u).filter(_._2 == "view").map(_._3)
        if (vs.nonEmpty) {
          nV += 1
          firstAfter(u, "click", vs.min).foreach { tc =>
            nC += 1
            if (firstAfter(u, "purchase", tc).nonEmpty) nP += 1
          }
        }
      }
      row.getLong(0) == nV && row.getLong(1) == nC && row.getLong(2) == nP
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), p)
    assert(res.passed, res.status.toString)
  }

  test("property: skyline window form == quadratic dominance on random points") {
    import TestSpark.spark
    import spark.implicits._
    val pt = for {
      x <- Gen.chooseNum(0L, 20L); y <- Gen.chooseNum(0L, 20L)
    } yield (x, y)
    val pts = Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, pt))
    val p = Prop.forAll(pts) { ps =>
      val rows = ps.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      val got = Graft.skyline(rows.toDF("id", "x", "y"), "id", "x", "y")
        .collect().map(_.getAs[Long]("id")).toSet
      val want = rows.filter { case (_, x, y) =>
        !rows.exists { case (_, x2, y2) =>
          x2 >= x && y2 >= y && (x2 > x || y2 > y) }
      }.map(_._1).toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  test("property: skyline is exact on fractional axes (dominators within (x, x+1))") {
    // The rangeBetween(-1) form encoded "strictly greater x" as
    // "x' >= x+1", which broke on doubles; quarter-step points put many
    // dominators inside (x, x+1), the exact failure case.
    import TestSpark.spark
    import spark.implicits._
    val pt = for {
      x <- Gen.chooseNum(0L, 80L); y <- Gen.chooseNum(0L, 80L)
    } yield (x / 4.0, y / 4.0)
    val pts = Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, pt))
    val p = Prop.forAll(pts) { ps =>
      val rows = ps.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      val got = Graft.skyline(rows.toDF("id", "x", "y"), "id", "x", "y")
        .collect().map(_.getAs[Long]("id")).toSet
      val want = rows.filter { case (_, x, y) =>
        !rows.exists { case (_, x2, y2) =>
          x2 >= x && y2 >= y && (x2 > x || y2 > y) }
      }.map(_._1).toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  test("property: groupMedian == sorted-middle sum on random groups") {
    import TestSpark.spark
    import spark.implicits._
    val vals = Gen.chooseNum(1, 25).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-100L, 100L)))
    val p = Prop.forAll(vals) { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      val got = Graft.groupMedian(rows.toDF("k", "tie", "v"), "k", "v", "tie")
        .collect().head.getAs[Long]("med2_c")
      val sorted = vs.sorted
      got == sorted((vs.length - 1) / 2) + sorted(vs.length / 2)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  test("property: peakConcurrency == driver sweep on random intervals") {
    import TestSpark.spark
    import spark.implicits._
    val iv = for {
      s <- Gen.chooseNum(0L, 50L); len <- Gen.chooseNum(1L, 20L)
    } yield (s, s + len)
    val ivs = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, iv))
    val p = Prop.forAll(ivs) { is =>
      val row = Graft.peakConcurrency(is.toDF("s", "e")).collect().head
      // sweep: ends (-1) before starts (+1) at equal t
      val evs = is.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
        .sortBy { case (t, d) => (t, d) }
      var live = 0L; var peak = 0L; var peakT = 0L
      evs.foreach { case (t, d) =>
        live += d
        if (live > peak) { peak = live; peakT = t }
      }
      row.getAs[Long]("peak") == peak &&
        row.getAs[Long]("peak_ts_us") == peakT &&
        row.getAs[Long]("n_sessions") == is.length.toLong
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  test("property: globalRank + ntileBucket == driver sort rank + NTILE") {
    import TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pair = for {
      v <- Gen.chooseNum(-50L, 50L); id <- Gen.chooseNum(0L, 1000L)
    } yield (v, id)
    val rel = Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, pair)).map(_.distinct)
    val p = Prop.forAll(rel) { rows0 =>
      val rows = rows0.distinct
      rows.isEmpty || {
        val df = rows.toDF("v", "id")
        val got = ops.AnalyticsOps
          .globalRank(df, Seq(col("v").desc, col("id")), numParts = 5)
          .withColumn("q", ops.AnalyticsOps.ntileBucket(4))
          .collect()
          .map(r => (r.getAs[Long]("v"), r.getAs[Long]("id")) ->
            ((r.getAs[Long]("grank"), r.getAs[Long]("n"),
              r.getAs[Int]("q")))).toMap
        val sorted = rows.sortBy { case (v, id) => (-v, id) }
        val n = sorted.length
        val (big, m) = (n / 4 + 1, n % 4)
        sorted.zipWithIndex.forall { case ((v, id), i0) =>
          val rk = i0 + 1L
          val expQ =
            if (rk <= big.toLong * m) ((rk - 1) / big + 1).toInt
            else (m + (rk - big.toLong * m - 1) / (n / 4) + 1).toInt
          got((v, id)) == ((rk, n.toLong, expQ))
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  test("property: winnowing fingerprints == brute force on random corpora") {
    import TestSpark.spark
    import spark.implicits._
    def h60(s: String): Long =
      java.lang.Long.parseLong(ops.TextFns.md5Hex(s).substring(0, 15), 16)
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, doc))
    val p = Prop.forAll(corpus) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = ops.TextOps.winnowFingerprints(rows.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = rows.flatMap { case (id, t) =>
        val toks = t.split(" ", -1)
        if (toks.length < 6) Nil
        else {
          val hs = (0 to toks.length - 3)
            .map(i => h60(toks.slice(i, i + 3).mkString(" ")))
          (0 to hs.length - 4).map { s =>
            val (h, pos) = (s until s + 4).map(i => (hs(i), (i + 1).toLong)).min
            (id, pos, h)
          }.distinct
        }
      }.toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  test("property: VersionedStore == in-memory model over random U/I/D sequences") {
    import TestSpark.spark
    import spark.implicits._
    val change = for {
      k <- Gen.chooseNum(1L, 12L)
      op <- Gen.oneOf("U", "I", "D")
      v <- Gen.chooseNum(0L, 99L)
    } yield (k, op, v)
    val scenario = for {
      init <- Gen.listOf(Gen.zip(Gen.chooseNum(1L, 12L), Gen.chooseNum(0L, 99L)))
        .map(_.distinctBy(_._1))
      commits <- Gen.chooseNum(1, 3).flatMap(n =>
        Gen.listOfN(n, Gen.nonEmptyListOf(change).map(_.distinctBy(_._1))))
    } yield (init, commits)
    val p = Prop.forAll(scenario) { case (init, commits) =>
      init.isEmpty || {
        val dir = tempDir("graft_vstore_prop").toString
        ops.VersionedStore.init(spark, dir, init.toDF("k", "v"), "k")
        // In-memory model: each version's full key→value map.
        var model = init.toMap
        val history = scala.collection.mutable.ArrayBuffer(model)
        commits.foreach { cs =>
          ops.VersionedStore.commit(spark, dir, cs.toDF("k", "op", "v"), "k")
          // mergeUpsert: drop every changed key, re-add non-D payloads.
          model = (model -- cs.map(_._1)) ++
            cs.filter(_._2 != "D").map(c => c._1 -> c._3)
          history += model
        }
        (1 to history.size).forall { v =>
          val got = ops.VersionedStore.asOf(spark, dir, v)
            .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap
          got == history(v - 1)
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("property: report line formats and parses back to the same months") {
    val monthVals = Gen.listOfN(12, Gen.chooseNum(-999, 999))
    val carrier = Gen.nonEmptyListOf(Gen.alphaUpperChar).map(_.take(6).mkString)
    check(Prop.forAll(carrier, monthVals) { (c, ds) =>
      // format exactly as FlightOps/A6: AIR-<c>\t, (1,d1), ..., (12,d12)
      val line = s"AIR-$c\t" + (1 to 12).map(m => s", ($m,${ds(m - 1)})").mkString
      val re = """AIR-(\w+)\t((?:, \(\d+,-?\d+\)){12})""".r
      line match {
        case re(pc, months) =>
          val parsed = """\((\d+),(-?\d+)\)""".r.findAllMatchIn(months)
            .map(m => (m.group(1).toInt, m.group(2).toInt)).toList
          pc == c && parsed.map(_._1) == (1 to 12).toList && parsed.map(_._2) == ds
        case _ => false
      }
    })
  }
}
