package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant + brute-force-parity tests for the analytics extensions added
  * after the round-4 verdict (RFM segmentation, association rules, Benford
  * audit, CUSUM changepoint, day-of-week heatmap, median/MAD). Each is
  * also hash-exact against its DuckDB oracle via the driver gate; these
  * pin the algebraic properties the oracle compare can't see.
  */
class AnalyticsExtSpec extends AnyFunSuite {
  import TestSpark._

  test("rfm: segment census partitions customers; scores in 1..5 and balanced") {
    val segs = ops.AnalyticsOps.qRfmSegments(spark, Sf).collect()
    val nCust = graft.Tables.orders(spark, Sf)
      .select(col("o_custkey")).distinct().count()
    assert(segs.map(_.getLong(3)).sum == nCust)
    segs.foreach { r =>
      (0 to 2).foreach(i => assert(r.getInt(i) >= 1 && r.getInt(i) <= 5))
    }
    // Each quintile's marginal size must be the exact NTILE share:
    // ceil(n/5) for the first n%5 buckets, floor(n/5) after.
    def marginal(i: Int) =
      segs.groupBy(_.getInt(i)).view.mapValues(_.map(_.getLong(3)).sum).toMap
    val (q, m) = (nCust / 5, nCust % 5)
    (0 to 2).foreach { dim =>
      val sizes = marginal(dim)
      (1 to 5).foreach { b =>
        assert(sizes(b) == (if (b <= m) q + 1 else q), s"dim $dim bucket $b")
      }
    }
  }

  test("assoc rules: confidence bounds, pair symmetry, support consistency") {
    val rules = ops.AnalyticsOps.qAssocRules(spark, Sf).collect()
    assert(rules.nonEmpty)
    rules.foreach { r =>
      val (c12, cA, cC) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(c12 >= 2 && c12 <= math.min(cA, cC))
      assert(r.getLong(5) == c12 * 1000000L / cA)       // conf_ppm
      assert(r.getLong(5) <= 1000000L)
    }
  }

  test("benford: digits 1..9 only, counts conserve positive orders") {
    val rows = ops.AnalyticsOps.qBenford(spark, Sf).collect()
    assert(rows.map(_.getInt(0)).toSet.subsetOf((1 to 9).toSet))
    val nPos = graft.Tables.orders(spark, Sf)
      .filter(round(col("o_totalprice") * 100) > 0).count()
    assert(rows.map(_.getLong(1)).sum == nPos)
    // ppm shares are truncating divisions of the same total.
    val tot = rows.map(_.getLong(1)).sum
    rows.foreach(r => assert(r.getLong(2) == r.getLong(1) * 1000000L / tot))
  }

  test("cusum changepoint: parity with a driver-side brute force per type") {
    val got = ops.EventOps.qCusumChangepoint(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val daily = graft.Tables.events(spark, Sf)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("event_type", "day").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = daily.groupBy(_._1).map { case (t, rows) =>
      val sorted = rows.sortBy(_._2)
      val total = sorted.map(_._3).sum
      val n = sorted.length.toLong
      var acc = 0L
      val cs = sorted.map { case (_, d, c) => acc += c * n - total; (d, acc) }
      t -> cs.minBy { case (d, s) => (-math.abs(s), d) }
    }
    assert(got == expected)
  }

  test("dow heatmap: buckets match Spark's calendar dayofweek/hour in UTC") {
    val n = ops.EventOps.qDowHourHeatmap(spark, Sf)
      .agg(sum("n")).head.getLong(0)
    assert(n == graft.Tables.events(spark, Sf).count())
    // Cross-check the epoch arithmetic against the calendar functions:
    // dow 0=Sunday..6=Saturday must equal dayofweek(ts)-1 in a UTC session.
    val mismatch = graft.Tables.events(spark, Sf)
      .select(expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
              (dayofweek(col("ts")) - 1).as("cal"),
              expr("(unix_micros(ts) div 3600000000) % 24").as("hour"),
              hour(col("ts")).as("cal_h"))
      .filter(col("dow") =!= col("cal") || col("hour") =!= col("cal_h"))
      .count()
    assert(mismatch == 0)
  }

  test("gini: brute-force parity; coefficient inside [0, 1)") {
    val r = ops.AnalyticsOps.qGiniSpend(spark, Sf).head
    val spends = graft.Tables.orders(spark, Sf)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("s"))
      .collect().map(x => (x.getLong(1), x.getLong(0))).sorted
    val n = spends.length.toLong
    val tot = spends.map(_._1).sum
    val num = spends.zipWithIndex
      .map { case ((s, _), i) => (2L * (i + 1) - n - 1) * s }.sum
    assert(r.getLong(0) == n && r.getLong(1) == tot)
    assert(r.getLong(2) == num && r.getLong(3) == n * tot)
    assert(num >= 0 && num < n * tot)
  }

  test("rolling median: parity with a driver recompute per user") {
    val got = ops.EventOps.qRollingMedian(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(1)) ->
        ((r.getLong(4), r.getLong(5)))).toMap
    val purchases = graft.Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
              expr("cast(round(value * 100) as bigint)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    purchases.groupBy(_._1).foreach { case (_, rows) =>
      val seq = rows.sortBy(r => (r._3, r._2))
      seq.zipWithIndex.foreach { case ((u, id, ts, _), i) =>
        val win = seq.slice(math.max(0, i - 4), i + 1).map(_._4).sorted
        val m2 = win((win.length - 1) / 2) + win(win.length / 2)
        assert(got((u, ts, id)) == ((win.length.toLong, m2)))
      }
    }
  }

  test("assortativity: exact r = -1 on a star; num/den parity on a path") {
    // Star K1,4: every edge joins degree-4 to degree-1 → r = −1.
    val star = spark.createDataFrame(
      Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))).toDF("u", "v")
    val s = ops.GraphOps.degreeAssortativity(star).head
    assert(s.getLong(4) == -s.getLong(5) && s.getLong(5) > 0)
    // Path 1-2-3-4: M=3, edge degrees (1,2),(2,2),(2,1) → S1=10, S2=18,
    // S3=8; r = (96−100)/(108−100) = −1/2, the known P4 value.
    val path = spark.createDataFrame(
      Seq((1L, 2L), (2L, 3L), (3L, 4L))).toDF("u", "v")
    val p = ops.GraphOps.degreeAssortativity(path).head
    assert((p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3)) ==
      ((3L, 10L, 18L, 8L)))
    assert(p.getLong(4) == -4L && p.getLong(5) == 8L)
  }

  test("bootstrap ci: ordered bounds; replica-0 mean parity with driver") {
    val rows = ops.EventOps.qBootstrapCi(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(4) && r.getLong(4) <= r.getLong(5))
    }
    // Recompute replica b=0's weighted mean for one type in the driver.
    val ev = graft.Tables.events(spark, Sf)
      .select(col("event_type"), col("event_id"),
              expr("cast(round(value * 100) as bigint)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def w(id: Long): Long = {
      val u = java.lang.Long.parseLong(
        ops.TextFns.md5Hex(s"$id:0").substring(0, 15), 16) % 1000
      if (u < 368) 0 else if (u < 736) 1 else if (u < 920) 2
      else if (u < 981) 3 else if (u < 996) 4 else if (u < 999) 5 else 6
    }
    val t0 = rows.head.getString(0)
    val mine = ev.filter(_._1 == t0)
    val m0 = mine.map(e => w(e._2) * e._3).sum * 1000 / mine.map(e => w(e._2)).sum
    // m0 is ONE of the 64 replica means; the CI band must contain every
    // replica mean between ranks 3 and 60 — check it lies in [min, max]
    // hull and that the point estimate matches the driver recompute.
    assert(rows.head.getLong(2) == mine.map(_._3).sum * 1000 / mine.length)
    assert(m0 >= mine.map(_._3).min * 1000 && m0 <= mine.map(_._3).max * 1000)
  }

  test("funnel latency: user count matches funnel; ordered percentiles") {
    val r = ops.EventOps.qFunnelLatency(spark, Sf).head
    val funnel = ops.AnalyticsOps.qFunnel(spark, Sf).head
    assert(r.getLong(0) == funnel.getLong(2)) // completing users
    val bands = (1 to 5).map(r.getLong)
    bands.sliding(2).foreach { case Seq(a, b) => assert(a <= b); case _ => }
    assert(bands.forall(_ > 0))
  }

  test("mrr eval: ranks in 1..10, reciprocal consistency") {
    val rows = ops.TextOps.qMrrEval(spark, Sf).collect()
    assert(rows.map(_.getString(0)).toSet == Set("spark", "join", "data"))
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 10)
      val fr = r.getLong(2)
      assert(fr >= 0 && fr <= 10)
      assert(r.getLong(3) == (if (fr == 0) 0L else 1000000L / fr))
    }
  }

  test("pit join: leakage-free — tier equals purchases strictly before ts") {
    val got = ops.EventOps.qPitJoin(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val ev = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
              col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val purchases = ev.filter(_._4 == "purchase")
      .groupBy(_._1).view.mapValues(_.map(p => (p._3, p._2)).sorted.toList).toMap
    ev.foreach { case (u, id, ts, _) =>
      // Tier = count of purchases STRICTLY before the event instant (ties
      // at the same ts are excluded by the strict > from_us bound).
      val strictly = purchases.getOrElse(u, Nil).count(_._1 < ts)
      val expected =
        if (strictly == 0) "none"
        else if (strictly >= 8) "gold"
        else if (strictly >= 3) "silver" else "bronze"
      assert(got(id) == expected, s"event $id")
    }
  }

  test("cohort ltv: running sums monotone and mass-conserving") {
    val rows = ops.EventOps.qCohortLtv(spark, Sf).collect()
    val total = graft.Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(expr("cast(round(value * 100) as bigint)"))).head.getLong(0)
    assert(rows.map(_.getLong(2)).sum == total)
    rows.groupBy(_.getLong(0)).values.foreach { cohort =>
      val sorted = cohort.sortBy(_.getLong(1))
      assert(sorted.last.getLong(3) == sorted.map(_.getLong(2)).sum)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(3) > a.getLong(3))
        case _           =>
      }
    }
  }

  test("neg samples: disjoint from positives, existing parts, <=8 per user") {
    val got = ops.AnalyticsOps.qNegSamples(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pos = graft.Tables.orders(spark, Sf)
      .join(graft.Tables.lineitem(spark, Sf),
            col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val parts = graft.Tables.part(spark, Sf)
      .select(col("p_partkey")).collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty)
    got.foreach { case (u, s, i) =>
      assert(!pos.contains((u, i)), s"positive leaked for user $u")
      assert(parts.contains(i))
      assert(s >= 0 && s <= 7)
    }
    got.groupBy(_._1).values.foreach(g => assert(g.length <= 8))
  }

  test("fertility: BPE fragments at least one token per word") {
    val rows = ops.TextOps.qTokenizerFertility(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= r.getLong(2)) // bpe >= whitespace tokens
      assert(r.getLong(4) == r.getLong(3) * 1000000L / r.getLong(2))
    }
  }

  test("psi drift: counts conserve events; psi null only for one-sided buckets") {
    val rows = ops.EventOps.qPsiDrift(spark, Sf).collect()
    val n = graft.Tables.events(spark, Sf).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == n)
    rows.foreach { r =>
      val oneSided = r.getLong(1) == 0 || r.getLong(2) == 0
      assert(r.isNullAt(3) == oneSided)
    }
  }

  test("ab test: variants partition users; z sign tracks the rate delta") {
    val r = ops.EventOps.qAbTest(spark, Sf).head
    val nUsers = graft.Tables.events(spark, Sf)
      .select(col("user_id")).distinct().count()
    assert(r.getLong(0) + r.getLong(2) == nUsers)
    assert(r.getLong(1) <= r.getLong(0) && r.getLong(3) <= r.getLong(2))
    if (!r.isNullAt(6)) {
      val delta = r.getLong(4) - r.getLong(5)
      assert(delta == 0 || delta.sign == r.getLong(6).sign || r.getLong(6) == 0)
    }
  }

  test("chi-square: brute-force parity on the full contingency table") {
    val r = ops.TextOps.qChiSquare(spark, Sf).head
    val cells = graft.Tables.documents(spark, Sf)
      .groupBy(col("lang"), col("source")).count()
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    val langs = cells.keys.map(_._1).toSeq.distinct
    val srcs = cells.keys.map(_._2).toSeq.distinct
    val nx = langs.map(l => l -> cells.filter(_._1._1 == l).values.sum).toMap
    val ny = srcs.map(s => s -> cells.filter(_._1._2 == s).values.sum).toMap
    val n = cells.values.sum
    val chi2 = (for (l <- langs; s <- srcs) yield {
      val o = cells.getOrElse((l, s), 0L)
      val d = o * n - nx(l) * ny(s)
      math.round(d.toDouble * d / (n.toDouble * nx(l) * ny(s)) * 1e6)
    }).sum
    assert(r.getLong(0) == langs.size.toLong * srcs.size)
    assert(r.getLong(1) == chi2)
    assert(r.getLong(2) == (langs.size - 1).toLong * (srcs.size - 1))
    assert(chi2 >= 0)
  }

  test("mad: parity with in-driver exact median of |x - med| per type") {
    val got = ops.EventOps.qMadRobust(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val vals = graft.Tables.events(spark, Sf)
      .select(col("event_type"), col("event_id"),
              expr("cast(round(value * 100) as bigint)").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def med2(xs: Seq[Long]): Long = {
      val s = xs.sorted
      val n = s.length
      s((n - 1) / 2) + s(n / 2)
    }
    vals.groupBy(_._1).foreach { case (t, rows) =>
      val m2 = med2(rows.sortBy(r => (r._3, r._2)).map(_._3))
      val devs = rows.map(r => math.abs(r._3 * 2 - m2))
      val mad4 = med2(devs.sortBy(identity).toIndexedSeq)
      assert(got(t) == ((rows.size.toLong, m2, mad4)), s"type $t")
    }
  }

  test("globalRank: input columns named like old internals survive; grank/n reserved") {
    import spark.implicits._
    // Columns deliberately named after the rank machinery's former
    // internal scratch names (mid/pid/rn/offset) — the `__grk_`-prefixed
    // internals must not collide with any of them.
    val df = Seq((3L, 1L, 10L, 7L, 100L), (1L, 2L, 20L, 8L, 200L),
                 (2L, 3L, 30L, 9L, 300L))
      .toDF("v", "mid", "pid", "rn", "offset")
    val ranked = ops.AnalyticsOps.globalRank(df, Seq(col("v").asc))
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Long]("grank")).toMap
    assert(ranked == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // Reserved output names fail fast instead of silently corrupting.
    val bad = Seq((1L, 2L)).toDF("v", "n")
    val ex = intercept[IllegalArgumentException] {
      ops.AnalyticsOps.globalRank(bad, Seq(col("v")))
    }
    assert(ex.getMessage.contains("grank"))
  }

  test("globalRank: chained ranks stay consistent at low parallelism (sampled-boundary regression)") {
    // Regression: the two-phase rank reads its range-partitioned relation
    // from two plan branches; repartitionByRange boundaries are SAMPLED
    // per evaluation, so without the localCheckpoint snapshot the offsets
    // branch could see a different partitioning than the emit branch —
    // grank > n, phantom NTILE buckets (observed: r_score = 6 at
    // 4 shuffle partitions over 1500 customers). Low parallelism makes
    // the sampler non-exhaustive, which is the triggering regime.
    GraftSession.scoped(spark, "spark.sql.shuffle.partitions" -> "4") { s =>
      (1 to 3).foreach { _ =>
        val segs = ops.AnalyticsOps.qRfmSegments(s, Sf).collect()
        segs.foreach { r =>
          (0 to 2).foreach(i =>
            assert(r.getInt(i) >= 1 && r.getInt(i) <= 5, r.toString))
        }
        val nCust = graft.Tables.orders(s, Sf)
          .select(col("o_custkey")).distinct().count()
        assert(segs.map(_.getLong(3)).sum == nCust)
      }
    }
  }

  test("k-anonymity audit counts are consistent and suppression heals every violation") {
    val cust = graft.Tables.customer(spark, Sf).collect()
    val audit = ops.AnalyticsOps.qKAnonymity(spark, Sf).collect()
    // Group sizes conserve the row count; l ≤ n always.
    assert(audit.map(_.getLong(2)).sum == cust.length)
    audit.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), r.toString)
      assert((r.getInt(4) == 1) == (r.getLong(2) >= 5), r.toString)
      assert((r.getInt(5) == 1) == (r.getLong(3) >= 3), r.toString)
    }
    // After suppression, every surviving NON-suppressed group still has
    // n ≥ k (suppression only removes groups, never shrinks one), and
    // total rows conserve.
    val out = ops.AnalyticsOps.qAnonymizeSuppress(spark, Sf).collect()
    assert(out.map(_.getLong(2)).sum == cust.length)
    out.filter(r => r.getString(0) != "*").foreach { r =>
      assert(r.getLong(2) >= 5, s"unsuppressed group under k: $r")
    }
    // The '*' bucket size equals the sum of the audit's violating groups.
    val violMass = audit.filter(_.getInt(4) == 0).map(_.getLong(2)).sum
    val starMass = out.filter(r => r.getString(0) == "*")
      .map(_.getLong(2)).sum
    assert(starMass == violMass, s"star=$starMass viol=$violMass")
  }

  test("globalRank: parallelism follows spark.sql.shuffle.partitions when unpinned") {
    GraftSession.scoped(spark, "spark.sql.shuffle.partitions" -> "7") { s =>
      val df = s.range(1000).toDF("id")
      // Values identical at any parallelism (order-deterministic ranks).
      val got = ops.AnalyticsOps.globalRank(df, Seq(col("id").asc))
        .select(col("id"), col("grank")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((0L until 1000L).forall(i => got(i) == i + 1))
      assert(ops.AnalyticsOps.rankParallelism(df) == 7)
    }
  }
}
