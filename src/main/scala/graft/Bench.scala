package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line with per-query seconds. The line is printed to
  * stdout (unprefixed — build.sbt forces StdoutOutput for forked runs so
  * sbt's `[info]` logger never wraps it) AND written to `bench_out.json`,
  * so the driver can parse either.
  *
  * Each query runs twice and reports the min: a single-shot pass bills
  * GC/codegen churn from a heavy neighbor to whichever query runs next
  * (observed in round 1: q_set_ops at 45 s single-shot vs ~5 s clean).
  * Queries >2x their previous-round record re-run twice more (min of
  * all runs kept) and are flagged in "suspect" if still deviant — the
  * round-7 record carried a 16-row contention window that a min-of-2
  * could not absorb.
  */
object Bench {
  /** Per-query seconds out of a bench record: either a full
    * `bench_out.json` line or a driver `BENCH_r*.json`, whose `tail`
    * field holds only the last ~2000 chars of that line, `\"`-escaped
    * and usually starting MID-record (past the `"queries":` marker).
    * So: unescape first, then anchor at the marker when present and
    * scan the whole text otherwise. Only `q_*` keys with numeric values
    * match — `errors` values and `suspect` entries are quoted strings
    * and never do. (The pre-round-11 parse required the marker on the
    * RAW text: it never matched a tail file, the prior map was always
    * empty, and the guard had been silently inert since round 8.)
    */
  private[graft] def parsePriorTimes(txt: String): Map[String, Double] = {
    val un = txt.replace("\\\"", "\"")
    val start = un.indexOf("\"queries\":")
    val body = if (start >= 0) un.substring(start) else un
    "\"(q[A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Prior-round per-query times from `dir`: the newest
    * `BENCH_r*.json` tail MERGED with `bench_out.json` (the FULL record
    * of the latest bench in this directory — at guard time it still
    * holds the prior run; this run overwrites it only at the end),
    * bench_out.json winning per key. A MERGE, not a preference: a
    * focused `SPARK_GRAFT_ONLY` run also writes bench_out.json, and if
    * its few keys replaced the whole map the next full run's guard
    * would be silently disarmed for every other query — the exact
    * vacuous-`suspect` failure this parse rewrite exists to end. Empty
    * where neither file exists (e.g. probes from /tmp), which disables
    * the guard rather than mis-flagging against nothing.
    */
  private[graft] def priorTimes(dir: java.io.File): Map[String, Double] = {
    val full = new java.io.File(dir, "bench_out.json")
    val fromFull =
      if (full.isFile)
        parsePriorTimes(new String(Files.readAllBytes(full.toPath), "UTF-8"))
      else Map.empty[String, Double]
    val re = "BENCH_r(\\d+)\\.json".r
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap(f => f.getName match {
        case re(n) => Some((n.toInt, f.toPath))
        case _ => None
      })
    val fromTail =
      if (files.isEmpty) Map.empty[String, Double]
      else parsePriorTimes(
        new String(Files.readAllBytes(files.maxBy(_._1)._2), "UTF-8"))
    fromTail ++ fromFull
  }

  private[graft] def deviant(t: Double, pv: Double): Boolean =
    t > 2 * pv && t - pv > 0.5

  /** The deviation guard: re-run any >2x-vs-prior mover via `rerun`
    * (which returns the SUCCESSFUL re-run times only — a crashed
    * re-run's time-to-failure must not lower the record), keep the min
    * of all runs, and flag it suspect if still deviant. Errored rows
    * pass through untouched. Pure so BenchGuardSpec can drive it with a
    * synthetic runner.
    */
  private[graft] def applyGuard(
      results: Seq[(String, Double, Option[String])],
      prior: Map[String, Double],
      rerun: String => Seq[Double])
      : Seq[(String, Double, Option[String], Boolean)] =
    results.map { case (name, t, err) =>
      if (err.nonEmpty || !prior.get(name).exists(deviant(t, _)))
        (name, t, err, false)
      else {
        val good = rerun(name)
        val best = if (good.nonEmpty) math.min(t, good.min) else t
        (name, best, err, prior.get(name).exists(deviant(best, _)))
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Deterministic name order; per-query noop action first touches the
    // session so JVM/codegen warmup is not billed to the first query.
    spark.range(1000000).selectExpr("sum(id)").collect()
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (focused iteration);
    // unset = the full driver surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // A throwing query must be VISIBLE in the record — a silent catch
      // bills its time-to-failure and the bench line looks healthy while
      // a regression hides inside a plausible total.
      var err: Option[String] = None
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case t: Throwable =>
            err = Some(Option(t.getMessage).getOrElse(t.getClass.getName)
              .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200))
        }
        (System.nanoTime() - t0) / 1e9
      }
      // Per-query isolation: release graft-tracked caches (also drops
      // their CacheManager entries), then any remaining persisted/
      // localCheckpoint blocks, so one query's storage doesn't linger in
      // the block manager and inflate queries later in the alphabet.
      GraftCache.releaseAllStorage(spark)
      (name, times.min, err)
    }
    // Deviation guard: a min-of-2 can still record a sustained machine
    // contention window (round 7 carried 16 inflated rows into the
    // permanent record). Any query whose min exceeds 2x its prior-round
    // value ([[priorTimes]]: the newest BENCH_r*.json tail merged with
    // bench_out.json; >0.5 s absolute too) is re-run
    // twice more and the min of all runs kept; a survivor is flagged in
    // "suspect" so the record carries its own health note instead of a
    // silent regression-or-artifact ambiguity.
    val prior = priorTimes(new java.io.File("."))
    val guarded = applyGuard(results, prior, rerun = { name =>
      val retimes = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.queries(name)(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      GraftCache.releaseAllStorage(spark)
      retimes.collect { case (rt, true) => rt }
    })
    val qs = guarded.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = guarded.collect { case (k, _, Some(e), _) => s"\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val suspect = guarded.collect { case (k, _, _, true) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = guarded.map(_._2).sum
    val nErr = guarded.count(_._3.nonEmpty)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"n_err":$nErr,"suspect":$suspect,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench_out.json"), line + "\n")
    spark.stop()
    // Printed LAST (after file write + session stop) so a tail-capture
    // parser always sees the complete line as the final stdout line.
    println(line)
  }
}
