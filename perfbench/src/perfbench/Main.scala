package perfbench

import graft.Graft
import graft.ops.FlightOps
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

/** One call into the program: `call` returns what the library returns,
  * `collect` materializes it (for write ops: counts the table the op
  * leaves, which is verification, not part of the op's latency). */
final case class Sample(kind: String, id: Int, timed: Boolean, write: Boolean,
                        startMs: Double, callEndMs: Double, endMs: Double,
                        rows: Long, jobs: Seq[JobRec], entriesLeft: Int,
                        regionsRewritten: Int, bytesWritten: Long) {
  def callMs: Double = callEndMs - startMs
  def collectMs: Double = endMs - callEndMs
  def latencyMs: Double = if (write) callMs else endMs - startMs
}

/** Runs ops against the program, checks each result, and (traced runs
  * only) attributes Spark jobs and table-file changes to the op. */
final class Runner(val traced: Boolean, runDir: Path) {
  var spark: SparkSession = _
  val listener = new JobListener
  val samples = mutable.ArrayBuffer.empty[Sample]
  var attempted = 0
  var failed = 0
  var instrumentNs = 0L
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** Starts the session: `local[4]`, the repo's Bench session settings,
    * and every path inside this run's scratch directory. */
  def startSession(): Unit = {
    spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) spark.sparkContext.addSparkListener(listener)
  }

  private def drainJobs(): Seq[JobRec] = {
    PerfbenchBus.drain(spark.sparkContext)
    listener.take()
  }

  /** CPU time this JVM has used so far in Spark driver and executor threads and
    * GC, less the JIT compiler's time, whose amount varies from run to run. */
  def cpuMs(): Double = {
    val mx = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    mx.getProcessCpuTime / 1e6 -
      java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  }

  def op[A, B](kind: String, timed: Boolean, write: Boolean = false,
               table: Option[Path] = None)(call: => A)(collect: A => B)(
               check: B => Option[String]): Unit = {
    attempted += 1
    val i0 = System.nanoTime()
    val before = if (traced) { drainJobs(); table.map(FsSnap(_)) } else None
    instrumentNs += System.nanoTime() - i0
    val t0 = System.nanoTime()
    var t1 = t0
    var rows = 0L
    val err = try {
      val a = call
      t1 = System.nanoTime()
      val b = collect(a)
      rows = b match { case arr: Array[_] => arr.length.toLong; case _ => 0L }
      t1 -> check(b)
    } catch { case NonFatal(e) => System.nanoTime() -> Some(e.toString) }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = err._1 min t2
    val left = Graft.releaseCaches(spark)
    err._2.foreach { msg =>
      failed += 1
      if (failed <= 5) System.err.println(s"perfbench: $kind op ${samples.size} failed: $msg")
    }
    val i1 = System.nanoTime()
    val (jobs, diff) =
      if (traced) (drainJobs(), (before, table) match {
        case (Some(b), Some(t)) => FsSnap.diff(b, FsSnap(t))
        case _ => (0, 0L)
      })
      else (Nil, (0, 0L))
    instrumentNs += System.nanoTime() - i1
    samples += Sample(kind, samples.size + 1, timed, write, nowMs(t0), nowMs(t1), nowMs(t2),
      rows, jobs, left, diff._1, diff._2)
  }

  def timedOf(kind: String): Seq[Sample] = samples.toSeq.filter(s => s.timed && s.kind == kind)
  def p50(kind: String): Double = Stats.median(timedOf(kind).map(_.latencyMs))
}

object Main {
  // Sizing (the prototype figures behind it are in perfbench/README.md).
  val FlightRows = 400000L
  val FlightFiles = 8
  val KvSlots = 150000L // ~120k live keys
  val KvFiles = 4
  val RegionRows = 5000L // ~24 regions
  val SetupRounds = 3
  val ScanWidth = 2000L // key units; ~400 rows
  val MultiGetKeys = 250
  val LocalChanges = 400
  val SpreadChanges = 1500
  val Table = "perfbench_kv"
  val ServeCycle = "GAGSGMGAGS" // G present GET, A absent GET, S scan, M multiget
  /** keyed loop: a `local` batch, a serve cycle, a `spread` batch, a serve cycle. */
  val KeyedCycle = "LRSR"
  val Workloads = Seq("flight_report", "keyed")
  val Ops = Seq("report", "secondary", "create", "get", "get_absent", "multiget", "scan",
    "upsert_local", "upsert_spread")
  val StoreOps = Seq("create", "get", "get_absent", "multiget", "scan", "upsert_local", "upsert_spread")
  val WriteOps = Seq("create", "upsert_local", "upsert_spread")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        runDir: Path, traceOut: Option[Path], selftest: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val selftest = a.contains("--selftest")
    val workload = m.getOrElse("workload", if (selftest) "" else sys.error("--workload is required"))
    require(selftest || Workloads.contains(workload), s"unknown workload '$workload'")
    Args(workload, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1",
      Paths.get(m.getOrElse("run-dir", sys.error("--run-dir is required"))),
      m.get("trace-out").map(Paths.get(_)), selftest)
  }

  /** Settings that change what the program does must not leak in. */
  private def refuseOverrides(): Unit = {
    val env = sys.env.keys.filter(_.startsWith("GRAFT_")).toSeq.sorted
    val props = sys.props.keys.filter(_.startsWith("graft.")).toSeq.sorted
    if (env.nonEmpty || props.nonEmpty) {
      System.err.println(s"perfbench: refusing to run with program overrides set: ${(env ++ props).mkString(", ")}")
      sys.exit(3)
    }
  }

  def main(argv: Array[String]): Unit = {
    refuseOverrides()
    val a = parse(argv)
    val code = if (a.selftest) SelfTest.run(a) else { runWorkload(a); 0 }
    sys.exit(code)
  }

  private def tableLoc(r: Runner): Path =
    Paths.get(new java.net.URI(r.spark.conf.get("spark.sql.warehouse.dir")).getPath, Table)

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** The keyed workloads' populate step: keyedCreate over generated input. */
  def populate(r: Runner, m: Kv.Model, input: String): Unit =
    r.op("create", timed = true, write = true, table = Some(tableLoc(r)))(
      Graft.keyedCreate(r.spark, Table, r.spark.read.parquet(input), "k", RegionRows))(
      _ => r.spark.table(Table).count())(n =>
      if (n == m.live.size) None else Some(s"table holds $n rows, model ${m.live.size}"))

  def get(r: Runner, m: Kv.Model, k: Long, timed: Boolean): Unit =
    r.op(if (m.live.contains(k)) "get" else "get_absent", timed)(
      Graft.keyedGet(r.spark, Table, "k", Seq(k)))(_.collect())(Kv.check(m.expect(Seq(k)), _))

  def multiget(r: Runner, m: Kv.Model, keys: Seq[Long], timed: Boolean): Unit = {
    val frame = Kv.keyFrame(r.spark, keys)
    r.op("multiget", timed)(Graft.keyedGetBatch(r.spark, Table, "k", frame))(_.collect())(
      Kv.check(m.expect(keys), _))
  }

  def scan(r: Runner, m: Kv.Model, from: Long, timed: Boolean): Unit =
    r.op("scan", timed)(Graft.keyedScan(r.spark, Table, "k", from, from + ScanWidth))(
      _.collect())(Kv.check(m.expectRange(from, from + ScanWidth), _))

  /** An upsert batch, then read-your-writes: a multiget over every
    * changed key, one present-key GET and one GET of a deleted key. */
  def ingest(r: Runner, m: Kv.Model, rng: java.util.SplittableRandom, local: Boolean,
             ver: Int, timed: Boolean): Unit = {
    val window = (KvSlots / math.max(1L, m.initialKeys.length / RegionRows)) / 8
    val (lo, hi, n) =
      if (local) { val lo = rng.nextLong(0, KvSlots - window); (lo, lo + window, LocalChanges) }
      else (0L, KvSlots, SpreadChanges)
    val ch = Kv.changes(m, rng, lo, hi, n, ver)
    val frame = Kv.changeFrame(r.spark, m, ch, ver)
    Kv.apply(m, ch, ver)
    r.op(if (local) "upsert_local" else "upsert_spread", timed, write = true,
      table = Some(tableLoc(r)))(Graft.keyedUpsert(r.spark, Table, "k", frame))(_.count())(n =>
      if (n == m.live.size) None else Some(s"table holds $n rows after upsert, model ${m.live.size}"))
    val keys = ch.map(_._1)
    multiget(r, m, keys, timed)
    val live = ch.filter(_._2 != 'D').map(_._1)
    get(r, m, live(rng.nextInt(live.size)), timed)
    val gone = ch.filter(_._2 == 'D').map(_._1)
    get(r, m, gone(rng.nextInt(gone.size)), timed)
  }

  def absentKey(m: Kv.Model, rng: java.util.SplittableRandom): Long = {
    var k = rng.nextLong(0, KvSlots * 4)
    while (m.live.contains(k)) k = rng.nextLong(0, KvSlots * 4)
    k
  }

  def serveOp(r: Runner, m: Kv.Model, rng: java.util.SplittableRandom, c: Char,
              timed: Boolean): Unit = c match {
    case 'G' => get(r, m, m.initialKeys(rng.nextInt(m.initialKeys.length)), timed)
    case 'A' => get(r, m, absentKey(m, rng), timed)
    case 'S' => scan(r, m, m.initialKeys(rng.nextInt(m.initialKeys.length)), timed)
    case 'M' =>
      val keys = (0 until MultiGetKeys).map(i =>
        if (i % 4 == 3) absentKey(m, rng) else m.initialKeys(rng.nextInt(m.initialKeys.length))).distinct
      multiget(r, m, keys, timed)
  }

  def report(r: Runner, fm: Flights.Model, dir: String, timed: Boolean): Unit =
    r.op("report", timed)(Graft.flightReport(r.spark, dir))(_.collect())(Flights.checkReport(fm, _))

  def secondary(r: Runner, fm: Flights.Model, dir: String, timed: Boolean): Unit =
    r.op("secondary", timed)(FlightOps.qSecondary(r.spark, dir))(_.collect())(Flights.checkSecondary(fm, _))

  private def runWorkload(a: Args): Unit = {
    val r = new Runner(a.trace, a.runDir)
    val rng = new java.util.SplittableRandom(Mix.h(a.seed, 77, 0))
    var flightModel: Flights.Model = null
    var kvModel: Kv.Model = null
    var digest = 0L
    var ver = 0
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupPhases = mutable.ArrayBuffer.empty[collection.Map[String, Double]]
    val roundSpans = mutable.ArrayBuffer.empty[(Double, Double)]
    for (round <- 0 until SetupRounds) {
      val t0 = System.nanoTime()
      val from = r.samples.size
      val phases = mutable.LinkedHashMap.empty[String, Double]
      def phase(name: String)(body: => Unit): Unit = {
        val p0 = System.nanoTime()
        body
        phases(name) = (System.nanoTime() - p0) / 1e9
      }
      // One session for all rounds: stopping a session that has run the
      // report can stall for 10 s, which would swamp the round's time.
      if (round == 0) phase("session")(r.startSession())
      val input = a.runDir.resolve(s"input-$round").toString
      a.workload match {
        case "flight_report" =>
          phase("generate") {
            Flights.write(r.spark, a.seed, FlightRows, FlightFiles, input)
            flightModel = Flights.model(a.seed, FlightRows)
          }
          digest = flightModel.digest
          phase("warmup") {
            report(r, flightModel, input, timed = false)
            secondary(r, flightModel, input, timed = false)
          }
        case _ =>
          phase("generate") {
            Kv.write(r.spark, a.seed, KvSlots, KvFiles, input)
            kvModel = new Kv.Model(a.seed, KvSlots)
          }
          digest = kvModel.digest
          phase("populate")(populate(r, kvModel, input))
          phase("warmup") {
            "GASMG".foreach(serveOp(r, kvModel, rng, _, timed = false))
            ver += 1; ingest(r, kvModel, rng, local = true, ver, timed = false)
            ver += 1; ingest(r, kvModel, rng, local = false, ver, timed = false)
          }
      }
      val populateMs = r.samples.drop(from).filter(_.kind == "create").map(_.callMs).sum
      setupS += (System.nanoTime() - t0) / 1e9 - populateMs / 1e3
      setupPhases += phases
      roundSpans += r.nowMs(t0) -> r.nowMs(System.nanoTime())
    }
    val input = a.runDir.resolve(s"input-${SetupRounds - 1}").toString
    val loopFrom = r.samples.size
    val cpu0 = r.cpuMs()
    val l0 = System.nanoTime()
    var step = 0
    while (System.nanoTime() - l0 < a.seconds * 1000000000L) {
      a.workload match {
        case "flight_report" =>
          if (step % 2 == 0) report(r, flightModel, input, timed = true)
          else secondary(r, flightModel, input, timed = true)
        case _ => KeyedCycle(step % KeyedCycle.length) match {
          case 'R' => ServeCycle.foreach(serveOp(r, kvModel, rng, _, timed = true))
          case c => ver += 1; ingest(r, kvModel, rng, local = c == 'L', ver, timed = true)
        }
      }
      step += 1
    }
    val loopMs = (System.nanoTime() - l0) / 1e6
    val loopOps = r.samples.size - loopFrom
    val cpuMsPerOp = (r.cpuMs() - cpu0) / math.max(1, loopOps)
    val storeBytes = if (kvModel == null) 0L else FsSnap.bytes(FsSnap(tableLoc(r)))
    val conditions = ListMap(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "java" -> System.getProperty("java.version"),
      "tune_execution_profile" -> r.spark.conf.getOption("spark.graft.execution.tuned").contains("true"),
      "spark_conf" -> ListMap((r.spark.sparkContext.getConf.getAll.toMap ++ r.spark.conf.getAll)
        .toSeq.sortBy(_._1): _*))
    val rss = peakRssMb()
    val named = namedMetrics(a.workload, r, setupS.toSeq, rss, loopMs / math.max(1, loopOps),
      cpuMsPerOp, storeBytes, kvModel)
    val getSamples = r.timedOf("get").size
    val tailP = Stats.tailPercentile(getSamples)
    val detail = ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "metrics" -> named,
      "get_tail" -> (if (a.workload == "keyed") ListMap("percentile" -> tailP,
        "samples" -> getSamples, "beyond" -> (getSamples * (1 - tailP / 100)).toInt) else None),
      "ops" -> ListMap(Ops.map(o => o -> r.samples.count(_.kind == o)): _*),
      "op_latency_ms" -> ListMap(Ops.map(r.timedOf).filter(_.nonEmpty).map { s =>
        val l = s.map(_.latencyMs)
        s.head.kind -> ListMap("n" -> l.size, "min" -> l.min, "p25" -> Stats.percentile(l, 25),
          "p50" -> Stats.median(l), "p75" -> Stats.percentile(l, 75), "max" -> l.max)
      }: _*),
      "setup_rounds_s" -> setupS,
      "setup_phases_s" -> setupPhases,
      "input_digest" -> java.lang.Long.toHexString(digest),
      "instrument_ms" -> r.instrumentNs / 1e6,
      "conditions" -> conditions)
    if (a.trace) a.traceOut.foreach(p => writeTrace(p, a, r, roundSpans.toSeq, l0, loopMs))
    println(Json(ListMap("perfbench" -> detail)))
    val metrics =
      if (a.trace) layerMetrics(r)
      else genericMetrics(r, setupS.toSeq, rss, cpuMsPerOp)
    println(Json(ListMap("correct" -> (r.failed == 0), "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> metrics)))
    r.spark.stop()
  }

  private def mv(value: Double, unit: String) = ListMap("value" -> value, "unit" -> unit)

  /** The end-to-end metrics every workload reports (BENCHMARK.json). */
  private def genericMetrics(r: Runner, setupS: Seq[Double], rss: Double, cpuMsPerOp: Double) =
    ListMap(
      "setup_s" -> mv(Stats.median(setupS), "s"),
      "peak_rss_mb" -> mv(rss, "MB"),
      "ok_op_share" -> mv((r.attempted - r.failed).toDouble / r.attempted, "share"),
      "cpu_ms_per_op" -> mv(cpuMsPerOp, "ms"))

  /** The workload's end-to-end metrics under their own names. */
  private def namedMetrics(w: String, r: Runner, setupS: Seq[Double], rss: Double,
                           mixMsPerOp: Double, cpuMsPerOp: Double, storeBytes: Long,
                           kv: Kv.Model) = {
    val common = Seq(
      "setup_s" -> mv(Stats.median(setupS), "s"),
      "peak_rss_mb" -> mv(rss, "MB"),
      "failed_op_share" -> mv(r.failed.toDouble / r.attempted, "share"),
      "cpu_ms_per_op" -> mv(cpuMsPerOp, "ms"),
      "mix_ms_per_op" -> mv(mixMsPerOp, "ms"))
    val keyed = if (kv == null) Nil else Seq(
      "populate_s" -> mv(Stats.median(r.samples.toSeq.filter(_.kind == "create").map(_.callMs)) / 1e3, "s"),
      "get_p50_ms" -> mv(r.p50("get"), "ms"),
      "store_bytes_per_row" -> mv(storeBytes.toDouble / kv.live.size, "B"))
    val own = if (w == "flight_report") Seq(
      "report_p50_s" -> mv(r.p50("report") / 1e3, "s"),
      "secondary_p50_s" -> mv(r.p50("secondary") / 1e3, "s"))
    else {
      val gets = r.timedOf("get").map(_.latencyMs)
      val ups = r.samples.toSeq.filter(s => s.timed && s.kind.startsWith("upsert"))
      Seq(
        "get_tail_ms" -> mv(if (gets.isEmpty) 0.0
          else Stats.percentile(gets, Stats.tailPercentile(gets.size)), "ms"),
        "get_absent_p50_ms" -> mv(r.p50("get_absent"), "ms"),
        "multiget_p50_ms" -> mv(r.p50("multiget"), "ms"),
        "scan_p50_ms" -> mv(r.p50("scan"), "ms"),
        "upsert_local_p50_s" -> mv(r.p50("upsert_local") / 1e3, "s"),
        "upsert_spread_p50_s" -> mv(r.p50("upsert_spread") / 1e3, "s"),
        "ingest_rows_per_s" -> mv(ups.map(s => if (s.kind == "upsert_local") LocalChanges
          else SpreadChanges).sum / (ups.map(_.latencyMs).sum / 1e3), "1/s"))
    }
    ListMap(common ++ keyed ++ own: _*)
  }

  /** The `spark` layer's measures of one op, with their units. */
  val SparkMeasures: Seq[(String, String, Sample => Double)] = Seq(
    ("jobs", "count", _.jobs.size.toDouble),
    ("tasks", "count", _.jobs.map(_.tasks).sum.toDouble),
    ("executor_run_ms", "ms", _.jobs.map(_.runMs).sum.toDouble),
    ("gc_ms", "ms", _.jobs.map(_.gcMs).sum.toDouble),
    ("sched_delay_ms", "ms", _.jobs.map(_.schedDelayMs).sum.toDouble),
    ("shuffle_bytes", "B", _.jobs.map(_.shuffleBytes).sum.toDouble),
    ("input_records", "count", _.jobs.map(_.inputRecords).sum.toDouble),
    ("driver_gap_ms", "ms", s => math.max(0.0, (s.endMs - s.startMs) - Stats.covered(
      s.jobs.map(j => (j.startMs.toDouble max s.startMs, j.endMs.toDouble min s.endMs))))))

  /** Per-layer metrics (BENCHMARK.json `per_layer`): medians over the
    * op's timed samples; 0 for an op the workload does not run. */
  def layerMetrics(r: Runner): ListMap[String, ListMap[String, Any]] = {
    val out = mutable.LinkedHashMap.empty[String, ListMap[String, Any]]
    def med(op: String, f: Sample => Double) = Stats.median(r.timedOf(op).map(f))
    for (op <- Seq("report", "secondary")) {
      out(s"FlightOps.$op.call_ms") = mv(med(op, _.callMs), "ms")
      out(s"FlightOps.$op.collect_ms") = mv(med(op, _.collectMs), "ms")
    }
    for (op <- StoreOps) {
      out(s"KeyedStore.$op.call_ms") = mv(med(op, _.callMs), "ms")
      out(s"KeyedStore.$op.collect_ms") = mv(med(op, _.collectMs), "ms")
    }
    for (op <- WriteOps) {
      out(s"KeyedStore.$op.regions_rewritten") = mv(med(op, _.regionsRewritten.toDouble), "count")
      out(s"KeyedStore.$op.bytes_written") = mv(med(op, _.bytesWritten.toDouble), "B")
    }
    for (op <- Seq("get", "multiget", "scan")) {
      val s = r.timedOf(op)
      val returned = s.map(_.rows).sum
      out(s"KeyedStore.$op.rows_examined_per_result") = mv(
        if (returned == 0) 0.0 else s.flatMap(_.jobs).map(_.inputRecords).sum.toDouble / returned, "ratio")
    }
    val absent = r.timedOf("get_absent")
    out("KeyedStore.get_absent.zero_scan_share") = mv(
      if (absent.isEmpty) 0.0
      else absent.count(_.jobs.map(_.inputRecords).sum == 0).toDouble / absent.size, "share")
    for (op <- Ops; (name, unit, f) <- SparkMeasures) out(s"spark.$op.$name") = mv(med(op, f), unit)
    for (op <- Ops) out(s"GraftCache.$op.entries_left") = mv(med(op, _.entriesLeft.toDouble), "count")
    ListMap(out.toSeq: _*)
  }

  /** Writes the span tree and per-span self times of a traced run. */
  private def writeTrace(p: Path, a: Args, r: Runner, rounds: Seq[(Double, Double)],
                         loopStartNs: Long, loopMs: Double): Unit = {
    val spans = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, name: String, op: Int, s: Double, e: Double): Int = {
      spans += Span(spans.size + 1, parent, name, op, s, e); spans.size
    }
    val start = rounds.headOption.map(_._1).getOrElse(r.nowMs(loopStartNs))
    val root = add(0, s"workload:${a.workload}", 0, start, r.nowMs(loopStartNs) + loopMs)
    val setups = rounds.zipWithIndex.map { case ((s, e), i) => add(root, s"setup:$i", 0, s, e) }
    val loop = add(root, "loop", 0, r.nowMs(loopStartNs), r.nowMs(loopStartNs) + loopMs)
    for (s <- r.samples) {
      val parent = if (s.timed) loop
        else setups.zip(rounds).find { case (_, (b, e)) => s.startMs >= b && s.startMs <= e }
          .map(_._1).getOrElse(root)
      val opSpan = add(parent, s"op:${s.kind}", s.id, s.startMs, s.endMs)
      val call = add(opSpan, "call", s.id, s.startMs, s.callEndMs)
      val coll = add(opSpan, "collect", s.id, s.callEndMs, s.endMs)
      for (j <- s.jobs)
        add(if (j.startMs > math.floor(s.callEndMs)) coll else call, "spark.job", s.id,
          j.startMs.toDouble, j.endMs.toDouble)
    }
    val children = spans.groupBy(_.parent)
    def self(sp: Span): Double = sp.durMs - Stats.covered(children.getOrElse(sp.id, Nil).toSeq
      .map(c => (c.startMs max sp.startMs, c.endMs min sp.endMs)))
    val selfByName = spans.toSeq.filter(_.op > 0).groupBy(sp => {
      val op = r.samples(sp.op - 1).kind
      if (sp.name.startsWith("op:")) s"$op.op" else s"$op.${sp.name}"
    }).toSeq.sortBy(_._1).map { case (k, v) => k -> ListMap(
      "spans" -> v.size, "self_ms_total" -> v.map(self).sum, "self_ms_p50" -> Stats.median(v.map(self)))
    }
    Files.createDirectories(p.getParent)
    Files.writeString(p, Json(ListMap(
      "workload" -> a.workload, "seed" -> a.seed,
      "self_time" -> ListMap(selfByName: _*),
      "spans" -> spans.map(sp => ListMap("id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name,
        "op" -> sp.op, "start_ms" -> sp.startMs, "end_ms" -> sp.endMs))
    )))
  }
}
