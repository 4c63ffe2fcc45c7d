package perfbench

import graft.Graft
import graft.ops.FlightOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Checks the benchmark itself: the generators are deterministic, the
  * checker rejects perturbed answers, and the traced counts of an op
  * repeat exactly when the op is repeated on the same data. */
object SelfTest {
  private def perturb(rows: Array[Row], i: Int, field: String, f: Any => Any): Array[Row] = {
    val row = rows(i)
    val vals = row.toSeq.toArray
    val j = row.fieldIndex(field)
    vals(j) = f(vals(j))
    rows.updated(i, new GenericRowWithSchema(vals, row.schema))
  }

  def run(a: Main.Args): Int = {
    val results = mutable.ArrayBuffer.empty[(String, Boolean)]
    def expect(name: String, ok: Boolean): Unit = {
      results += name -> ok
      println(Json(ListMap("check" -> name, "pass" -> ok)))
    }
    val seed = a.seed
    expect("flight input digest repeats for a seed",
      Flights.model(seed, 50000).digest == Flights.model(seed, 50000).digest)
    expect("flight input digest changes with the seed",
      Flights.model(seed, 50000).digest != Flights.model(seed + 1, 50000).digest)
    expect("keyed input digest repeats for a seed",
      new Kv.Model(seed, 20000).digest == new Kv.Model(seed, 20000).digest)
    expect("keyed input digest changes with the seed",
      new Kv.Model(seed, 20000).digest != new Kv.Model(seed + 1, 20000).digest)

    val r = new Runner(traced = true, a.runDir)
    r.startSession()
    val spark = r.spark
    val dir = a.runDir.resolve("selftest-flights").toString
    val n = 60000L
    Flights.write(spark, seed, n, 4, dir)
    val fm = Flights.model(seed, n)
    val rep = Graft.flightReport(spark, dir).collect()
    expect("report matches the model", Flights.checkReport(fm, rep).isEmpty)
    expect("sparse carrier has empty months", Flights.SparseMonths.forall(m =>
      fm.rounded(Flights.SparseCarrier, m) == 0) && fm.carriers.contains(Flights.SparseCarrier))
    expect("checker rejects a report month off by one",
      Flights.checkReport(fm, perturb(rep, 3, "m7", x => x.asInstanceOf[Int] + 1)).nonEmpty)
    expect("checker rejects a changed report line",
      Flights.checkReport(fm, perturb(rep, 0, "report", x => x.toString + " ")).nonEmpty)
    val sec = FlightOps.qSecondary(spark, dir).collect()
    expect("secondary matches the model", Flights.checkSecondary(fm, sec).isEmpty)
    expect("checker rejects a secondary value off by one",
      Flights.checkSecondary(fm, perturb(sec, 5, "d", x => x.asInstanceOf[Int] - 1)).nonEmpty)
    expect("checker rejects a missing secondary row",
      Flights.checkSecondary(fm, sec.drop(1)).nonEmpty)

    val kdir = a.runDir.resolve("selftest-kv").toString
    val slots = 40000L
    Kv.write(spark, seed, slots, 2, kdir)
    val m = new Kv.Model(seed, slots)
    Main.populate(r, m, kdir)
    val k = m.initialKeys(m.initialKeys.length / 3)
    val got = Graft.keyedGet(spark, Main.Table, "k", Seq(k)).collect()
    expect("GET matches the model", Kv.check(m.expect(Seq(k)), got).isEmpty)
    expect("checker rejects a changed payload",
      Kv.check(m.expect(Seq(k)), perturb(got, 0, "tag", x => x.toString + "x")).nonEmpty)
    expect("checker rejects a missing row", Kv.check(m.expect(Seq(k)), Array.empty[Row]).nonEmpty)
    val scanned = Graft.keyedScan(spark, Main.Table, "k", k, k + Main.ScanWidth).collect()
    expect("scan matches the model", Kv.check(m.expectRange(k, k + Main.ScanWidth), scanned).isEmpty)
    expect("checker rejects a scan with a row too many",
      Kv.check(m.expectRange(k + 1, k + Main.ScanWidth), scanned).nonEmpty)

    val rng = new java.util.SplittableRandom(seed)
    val ch = Kv.changes(m, rng, 0, slots, 400, 1)
    val stale = m.expect(ch.map(_._1))
    val frame = Kv.changeFrame(spark, m, ch, 1)
    Kv.apply(m, ch, 1)
    Graft.keyedUpsert(spark, Main.Table, "k", frame)
    val ryw = Graft.keyedGetBatch(spark, Main.Table, "k", Kv.keyFrame(spark, ch.map(_._1))).collect()
    expect("read-your-writes reflects every U/I/D change", Kv.check(m.expect(ch.map(_._1)), ryw).isEmpty)
    expect("checker rejects the pre-upsert state", Kv.check(stale, ryw).nonEmpty)
    Graft.releaseCaches(spark)

    // Repeat each op on the same data; the traced counts must match.
    val failedBefore = r.failed
    Main.report(r, fm, dir, timed = true)
    Main.report(r, fm, dir, timed = true)
    Main.secondary(r, fm, dir, timed = true)
    Main.secondary(r, fm, dir, timed = true)
    Main.get(r, m, k, timed = true)
    Main.get(r, m, k, timed = true)
    Main.scan(r, m, k, timed = true)
    Main.scan(r, m, k, timed = true)
    val keys = m.initialKeys.take(200).toSeq
    Main.multiget(r, m, keys, timed = true)
    Main.multiget(r, m, keys, timed = true)
    val updates = m.initialKeys.slice(1000, 1400).filter(m.live.contains).map(_ -> 'U').toSeq
    val uframe = Kv.changeFrame(spark, m, updates, 7)
    Kv.apply(m, updates, 7)
    // Three times: the first rewrite reads the files keyedCreate wrote,
    // whose sizes differ from a rewrite's, and the split count follows
    // file sizes. The last two run on the same files and must match.
    for (_ <- 0 until 3)
      r.op("upsert_local", timed = true, write = true, table = Some(
        java.nio.file.Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
          Main.Table)))(Graft.keyedUpsert(spark, Main.Table, "k", uframe))(_.count())(c =>
        if (c == m.live.size) None else Some(s"$c rows, model ${m.live.size}"))
    expect("repeated ops pass their checks", r.failed == failedBefore)
    for (op <- Seq("report", "secondary", "get", "scan", "multiget", "upsert_local")) {
      val Seq(x, y) = r.timedOf(op).takeRight(2)
      def counts(s: Sample) = (s.jobs.size, s.jobs.map(_.tasks).sum,
        s.jobs.map(_.inputRecords).sum, s.regionsRewritten)
      println(Json(ListMap("op" -> op, "jobs_tasks_records_regions" -> Seq(
        counts(x).productIterator.toSeq, counts(y).productIterator.toSeq),
        "tasks_per_job" -> Seq(x, y).map(_.jobs.map(_.tasks)))))
      expect(s"$op repeats jobs, tasks, input_records and regions_rewritten", counts(x) == counts(y))
    }
    spark.stop()
    val bad = results.filterNot(_._2).map(_._1)
    println(Json(ListMap("selftest" -> (if (bad.isEmpty) "pass" else "fail"),
      "checks" -> results.size, "failed" -> bad)))
    if (bad.isEmpty) 0 else 1
  }
}
