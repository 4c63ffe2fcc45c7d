package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Gate for the Bench deviation guard's PARSE and DECISION logic — pure
  * JVM, no Spark. Exists because the guard was silently inert from
  * round 8 to round 10: the prior-map parse required an unescaped
  * `"queries":` marker that no driver BENCH_r*.json contains (those
  * store a `\"`-escaped 2000-char tail starting mid-record), so
  * `suspect: []` was vacuous and a 2.51x no-code-change mover
  * (q_shard_pack, r10) sailed through unprobed.
  */
class BenchGuardSpec extends AnyFunSuite with TempDirs {

  private val tailStyle =
    """{
      |  "n": 9,
      |  "rc": 0,
      |  "tail": "q_set_ops_all\":0.336,\"q_shard_pack\":0.28,\"q_shortest_path\":6.659418889,\"q_zipf\":1.2e-1},\"errors\":{},\"n_err\":0,\"suspect\":[],\"sf\":\"/root/testdata/sf0.1\"}"
      |}""".stripMargin

  test("parsePriorTimes reads an escaped mid-record tail (driver format)") {
    val m = Bench.parsePriorTimes(tailStyle)
    assert(m("q_shard_pack") == 0.28)
    assert(m("q_shortest_path") == 6.659418889)
    assert(m("q_zipf") == 0.12) // scientific notation survives
    assert(m.size == 4)
  }

  test("parsePriorTimes reads a full bench_out.json line") {
    val full = """{"metric":"total","value":9.9,"unit":"sec","queries":{"q_a":1.5,"q_b":0.25},"errors":{"q_c":"boom q_fake:1.0 text"},"n_err":1,"suspect":["q_b"],"sf":"x"}"""
    val m = Bench.parsePriorTimes(full)
    // error-message text and suspect entries must not pollute the map
    assert(m == Map("q_a" -> 1.5, "q_b" -> 0.25))
  }

  test("the real committed BENCH_r*.json bytes yield a non-empty prior map") {
    // The exact file class the guard failed on for three rounds.
    val p = Paths.get("BENCH_r09.json")
    assume(Files.exists(p), "driver bench record not present")
    val m = Bench.parsePriorTimes(new String(Files.readAllBytes(p), "UTF-8"))
    assert(m.nonEmpty, "tail-format driver record must parse")
    assert(m.values.forall(v => v >= 0 && v < 3600))
  }

  test("priorTimes MERGES the BENCH tail with bench_out.json " +
       "(full record wins per key; a partial record cannot disarm the " +
       "guard for the other queries)") {
    val dir = tempDir("benchguard").toFile
    // A focused SPARK_GRAFT_ONLY run left a bench_out.json with ONE
    // query — its fresher time must win for that key, while the tail
    // still arms the guard for everything else.
    Files.writeString(Paths.get(dir.getPath, "bench_out.json"),
      """{"queries":{"q_shard_pack":2.0}}""")
    Files.writeString(Paths.get(dir.getPath, "BENCH_r07.json"), tailStyle)
    val merged = Bench.priorTimes(dir)
    assert(merged("q_shard_pack") == 2.0)          // full record wins
    assert(merged("q_shortest_path") == 6.659418889) // tail fills the rest
    assert(merged.size == 4)
    // without the full record, the tail is the source
    Files.delete(Paths.get(dir.getPath, "bench_out.json"))
    assert(Bench.priorTimes(dir)("q_shard_pack") == 0.28)
    // neither → empty map (guard disabled, not mis-armed)
    assert(Bench.priorTimes(tempDir("bg2").toFile).isEmpty)
  }

  test("a 3x mover is re-run; a survivor lands in suspect, a recovered " +
       "one does not; non-movers and errored rows are never re-run") {
    val prior = Map("q_stuck" -> 1.0, "q_noise" -> 1.0, "q_ok" -> 1.0,
                    "q_err" -> 0.1)
    val results = Seq(
      ("q_stuck", 3.0, None),             // 3x, re-runs stay high → suspect
      ("q_noise", 3.0, None),             // 3x, re-run recovers → cleared
      ("q_ok", 1.1, None),                // within band → untouched
      ("q_new", 9.0, None),               // no prior → untouched
      ("q_err", 5.0, Some("boom")))       // errored → untouched
    val rerun = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = Bench.applyGuard(results, prior, { n =>
      rerun += n
      if (n == "q_noise") Seq(0.9, 1.05) else Seq(2.9, 3.1)
    }).map(r => r._1 -> r).toMap
    assert(rerun.sorted == Seq("q_noise", "q_stuck"))
    assert(out("q_stuck") == (("q_stuck", 2.9, None, true)))  // min kept, flagged
    assert(out("q_noise") == (("q_noise", 0.9, None, false))) // recovered
    assert(out("q_ok") == (("q_ok", 1.1, None, false)))
    assert(out("q_new") == (("q_new", 9.0, None, false)))
    assert(out("q_err") == (("q_err", 5.0, Some("boom"), false)))
  }

  test("an all-crashed re-run cannot lower the recorded time") {
    val out = Bench.applyGuard(Seq(("q_x", 3.0, None)), Map("q_x" -> 1.0),
      _ => Seq.empty)
    assert(out == Seq(("q_x", 3.0, None, true)))
  }

  test("deviant needs BOTH 2x relative and 0.5 s absolute") {
    assert(Bench.deviant(3.0, 1.0))
    assert(!Bench.deviant(0.4, 0.1))  // 4x but only +0.3 s — micro-query noise
    assert(!Bench.deviant(1.9, 1.0))  // +0.9 s but under 2x
  }

  test("property: a rendered bench line round-trips through " +
       "parsePriorTimes, raw and tail-escaped") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val qname = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(cs => "q_" + cs.mkString))
    val entry = for { k <- qname; v <- Gen.chooseNum(0.001, 3600.0) } yield (k, v)
    val record = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, entry))
      .map(_.toMap)
    val p = Prop.forAll(record) { m =>
      val line = "{\"metric\":\"total\",\"value\":" + m.values.sum +
        ",\"unit\":\"sec\",\"queries\":{" +
        m.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",") +
        "},\"errors\":{},\"n_err\":0,\"suspect\":[],\"sf\":\"x\"}"
      // the driver's tail form: escaped quotes, truncated to a mid-record
      // suffix (drop a prefix so it starts inside the queries map)
      val esc = line.replace("\"", "\\\"")
      val tail = "{\"n\": 5, \"tail\": \"" +
        esc.substring(math.min(esc.length / 3, esc.indexOf("queries"))) + "\"}"
      val full = Bench.parsePriorTimes(line)
      val fromTail = Bench.parsePriorTimes(tail)
      // full parse is exact; tail parse is a subset (prefix truncated)
      full == m && fromTail.forall { case (k, v) => m.get(k).contains(v) } &&
        fromTail.nonEmpty
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("property: applyGuard never raises a time, never flags a " +
       "non-deviant row, and re-runs exactly the deviant error-free rows") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val row = for {
      n <- Gen.chooseNum(1, 6).map(i => s"q_$i")
      t <- Gen.chooseNum(0.01, 10.0)
      e <- Gen.option(Gen.const("boom"))
    } yield (n, t, e)
    val rows = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, row))
    val priorG = Gen.mapOf(Gen.zip(Gen.chooseNum(1, 6).map(i => s"q_$i"),
      Gen.chooseNum(0.01, 10.0)))
    val rerunT = Gen.chooseNum(0.005, 12.0)
    val p = Prop.forAll(rows, priorG, rerunT) { (rs, prior, rt) =>
      var calls = 0
      val out = Bench.applyGuard(rs, prior, { _ => calls += 1; Seq(rt) })
      out.zip(rs).zipWithIndex.forall { case (((n2, t2, e2, flag), (n1, t1, e1)), i) =>
        val wasDeviant = e1.isEmpty && prior.get(n1).exists(Bench.deviant(t1, _))
        n2 == n1 && e2 == e1 &&
          t2 <= t1 + 1e-12 &&                       // never raised
          (!flag || wasDeviant) &&                  // flag implies deviant input
          (if (!wasDeviant) t2 == t1 else t2 == math.min(t1, rt)) &&
          (flag == (wasDeviant && prior.get(n1).exists(Bench.deviant(t2, _))))
      } && calls == rs.count { case (n, t, e) =>
        e.isEmpty && prior.get(n).exists(Bench.deviant(t, _)) }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(500), p)
    assert(res.passed, res.status.toString)
  }
}
