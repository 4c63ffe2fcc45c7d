package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every main (Bench,
  * Verify, ExplainDump, ScaleSmoke, Probe32) and the test suite's shared
  * session come from [[local]], so the engine runs under one conf:
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus` (the
  *    core-count scaling the bench record is read against);
  *  - [[plans.GraftExtensions]] installed (cosine_dot fusion, graft_topk,
  *    keyed region pruning, graft_as_of);
  *  - UTC session time zone, so timestamp math and oracles agree;
  *  - `parquet.nanosAsLong`, which the TIMESTAMP(NANOS) form of
  *    `events.ts` needs ([[Tables.events]] converts it back) and which is
  *    harmless for the other forms;
  *  - UI off, AQE on, WARN log level.
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
    val spark = conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
