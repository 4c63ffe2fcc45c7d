package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every main (Bench,
  * Verify, Probe32) and the test suite's shared session come from
  * [[local]], so the engine runs under one conf:
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus` (the
  *    core-count scaling the bench record is read against);
  *  - [[plans.GraftExtensions]] installed (cosine_dot fusion, graft_topk,
  *    keyed region pruning, graft_as_of);
  *  - UTC session time zone, so timestamp math and oracles agree;
  *  - `parquet.nanosAsLong`, which the TIMESTAMP(NANOS) form of
  *    `events.ts` needs ([[Tables.events]] converts it back) and which is
  *    harmless for the other forms;
  *  - UI off, AQE on, WARN log level;
  *  - artifact isolation off, so the clones [[scoped]] makes share the
  *    executors' generated-code cache.
  */
object GraftSession {
  /** Build (or return the already-running) local session. `conf` adds
    * deployment settings on top, e.g. a warehouse dir. */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // The engine adds no per-session artifacts. With isolation on,
      // every session (each [[scoped]] clone, each stream's own clone)
      // gets its own executor classloader and compiles every generated
      // class again: qBloomPruneJoin at sf0.1 on 4 cores ran 565 ms
      // slower on a fresh clone than on a reused one, 223 ms with it off.
      .config("spark.sql.artifact.isolation.enabled", "false")
    val spark = conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` on a clone of `spark` with `confs` set on the clone, so
    * the caller's own conf is never written and nothing needs restoring.
    * Operators that need a setting of their own (the streaming rows'
    * 4 state partitions, the AQE skew and bloom demo joins) take it
    * here; a concurrent caller on `spark` never sees it.
    *
    *  - A clone, not `newSession()`: the clone keeps the caller's runtime
    *    conf (the execution profile and its `spark.graft.execution.tuned`
    *    marker, `parquet.nanosAsLong`, anything the caller set) and its
    *    temp views. A new session would start from the static conf.
    *  - If `spark` has no execution profile yet, the clone's first
    *    [[Tables.table]] applies it to the clone, skipping the keys in
    *    `confs` (the profile skips any explicit setting).
    *  - A stream started from a DataFrame of the clone takes its conf,
    *    its state-partition count included, from the clone. The
    *    `StreamingQueryManager` and its listeners are per session, so
    *    such a query shows in the clone's `streams`, not in `spark`'s
    *    (nothing in this library reads `spark.streams`); a memory-sink
    *    view is a temp view of the clone too.
    *  - DataFrames of the clone stay usable after `body` returns and
    *    combine with DataFrames of `spark`.
    *  - On exit, cache entries tagged to the clone move to `spark`, so
    *    `Graft.releaseCaches(spark)` releases them.
    */
  def scoped[T](spark: SparkSession, confs: (String, String)*)(
      body: SparkSession => T): T = {
    val s = org.apache.spark.sql.GraftSessionBridge.cloneSession(spark)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body(s) finally GraftCache.adopt(s, spark)
  }
}
