package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Suffix-array substring-duplication statistics
  * (DedupOps.suffixDedupStats): exact known answers on constructed
  * corpora, a driver-side brute-force referee on the fixture, and
  * consistency with the fixed-window family.
  */
class SuffixDedupSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("exact longest shared token spans on a constructed corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),          // shares "c d e f" with 2
      (2L, "x y c d e f z"),            // and "x y" nowhere else
      (3L, "q r s"),                    // nothing shared
      (4L, "a b c d e f g h"),          // full duplicate of 1
      (5L, "h g f e d c b a")           // reversed: only 1-token overlaps
    ).toDF("doc_id", "text")
    val got = rows(ops.DedupOps.suffixDedupStats(docs, rounds = 4))
    assert(got(1L) == ((8L, 8L)))   // whole doc duplicated by 4
    assert(got(4L) == ((8L, 8L)))
    assert(got(2L) == ((7L, 4L)))   // "c d e f"
    assert(got(3L) == ((3L, 0L)))   // no token shared with any doc
    assert(got(5L) == ((8L, 1L)))   // single tokens appear elsewhere
  }

  test("de-skewed distributed rank path equals the window path " +
       "(constructed corpus incl. a skewed token run, and the fixture)") {
    import spark.implicits._
    // one token at ~40% frequency — the shape that trips the de-skew
    // threshold in production — plus duplicates and unique docs
    val docs = Seq(
      (1L, "hot hot hot hot a b c hot hot"),
      (2L, "x hot hot hot hot y b c"),
      (3L, "a b c hot hot hot hot hot"),
      (4L, "hot hot hot hot a b c hot hot"),
      (5L, "q r s t u")
    ).toDF("doc_id", "text")
    val win = rows(ops.DedupOps.suffixDedupStats(docs))
    val dsk = rows(ops.DedupOps.suffixDedupStats(docs, deskewAbove = 0L))
    assert(dsk == win, s"deskewed $dsk vs window $win")
    // a real-text leg: a deterministic 1/5 slice of the fixture (the
    // full fixture × both paths costs minutes on local[4]; the oracle
    // already pins the default path corpus-wide)
    val slice = graft.Tables.documents(spark, Sf)
      .filter(col("doc_id") % 5 === 0)
    val fixWin = rows(ops.DedupOps.suffixDedupStats(slice))
    val fixDsk = rows(ops.DedupOps.suffixDedupStats(slice, deskewAbove = 0L))
    assert(fixDsk == fixWin)
    assert(fixWin.values.exists(_._2 > 0), "slice should contain dups")
  }

  test("rounds auto-derive covers >128-token documents; explicit " +
       "rounds still fails loudly; empty corpus yields empty output") {
    import spark.implicits._
    // 200 tokens > 2^7: the old fixed default (rounds = 7) hard-failed
    val long1 = (1 to 200).map(i => s"t${i % 13}").mkString(" ")
    val long2 = (41 to 240).map(i => s"t${i % 13}").mkString(" ")
    val docs = Seq((1L, long1), (2L, long2), (3L, "zz yy xx")).toDF("doc_id", "text")
    val got = rows(ops.DedupOps.suffixDedupStats(docs)) // auto rounds = 8
    assert(got(1L)._1 == 200L && got(2L)._1 == 200L)
    // both long docs repeat period-13 token cycles; shared span ≥ 13
    assert(got(1L)._2 >= 13L && got(2L)._2 >= 13L)
    assert(got(3L)._2 == 0L)
    val e = intercept[IllegalArgumentException] {
      ops.DedupOps.suffixDedupStats(docs, rounds = 7)
    }
    assert(e.getMessage.contains("raise rounds"))
    val empty = ops.DedupOps.suffixDedupStats(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(empty.columns.toSeq ==
      Seq("doc_id", "n_tokens", "max_dup_tokens") && empty.count() == 0L)
  }

  test("fixture agrees with a driver-side sorted-suffix referee, and " +
       "window-family consistency holds") {
    val got = rows(ops.DedupOps.qSuffixDedup(spark, Sf))
    // Independent plain-Scala implementation: sort all suffix token
    // tuples, take adjacent doc-crossing pairs, credit LCP both sides.
    val docs = graft.Tables.documents(spark, Sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    implicit val ord: Ordering[Seq[String]] = Ordering.Implicits.seqOrdering
    val sufs = docs.toSeq.flatMap { case (d, w) =>
      w.indices.map(i => (w.drop(i).toSeq, d))
    }.sortBy(_._1)
    val best = scala.collection.mutable.Map.empty[Long, Long]
    sufs.zip(sufs.tail).foreach { case ((sa, da), (sb, db)) =>
      if (da != db) {
        val l = sa.zip(sb).takeWhile { case (x, y) => x == y }.size.toLong
        best(da) = math.max(best.getOrElse(da, 0L), l)
        best(db) = math.max(best.getOrElse(db, 0L), l)
      }
    }
    docs.keys.foreach { d =>
      assert(got(d)._2 == best.getOrElse(d, 0L), s"doc $d")
    }
    // Window-family consistency: a doc has a cross-doc duplicated
    // 40-char window (stride-1 exact apply removed something) ⇒ its
    // longest duplicated TOKEN span must cover ≥ that window's tokens
    // minus boundary partials — pin the weaker, always-true direction:
    // every doc the exact apply touched must have a nonzero span here.
    val touched = ops.DedupOps.qSubstrApplyExact(spark, Sf).collect()
      .filter(_.getLong(3) > 0).map(_.getLong(0)).toSet
    touched.foreach { d =>
      assert(got(d)._2 > 0, s"doc $d has a duplicated window but no span")
    }
    assert(got.values.exists(_._2 >= 20),
      "fixture should contain planted long duplicated spans")
  }
}
