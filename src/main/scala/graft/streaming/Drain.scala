package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** How every driver-checked streaming row drains a bounded source: on a
  * scoped session with its own state-partition count, one file per
  * `AvailableNow` trigger, and never a partial result.
  */
private[graft] object Drain {

  /** Run `body` on a clone of `spark` with 4 shuffle partitions. A
    * stream's state-store count is fixed by that setting at its first
    * start, so it is sized to the stream's volume, not to the batch
    * session's width: two stateful operators × N partitions of
    * checkpoint IO per micro-batch dominate a small drain (a real
    * deployment sizes it to peak keys/sec). The `foreachBatch` store
    * calls run on the same clone and get the same count; the caller's
    * session is never written ([[graft.GraftSession.scoped]]).
    */
  def scoped[T](spark: SparkSession)(body: SparkSession => T): T =
    graft.GraftSession.scoped(spark, "spark.sql.shuffle.partitions" -> "4")(body)

  /** Drain `rows` through a `foreachBatch` sink, in this order:
    *  1. write `rows` as `nFiles` parquet files in a temp dir;
    *  2. `drop` a stale store;
    *  3. evaluate `sink` (setup that needs the dropped store runs here)
    *     and drain one file per trigger into the function it returns,
    *     each batch inside its own [[graft.GraftCache.withScope]], so a
    *     batch's caches are released when the batch ends (the batch's
    *     session is the stream's internal one, which no caller can
    *     release);
    *  4. if the drain does not finish in `timeoutMs`, stop it and throw;
    *     otherwise return `readOut`;
    *  5. finally `drop` the store and delete the temp dir, a timeout
    *     included.
    * `readOut` must materialize what it returns before step 5 drops
    * the store it reads.
    */
  def files[T](spark: SparkSession, label: String, rows: DataFrame, nFiles: Int,
               drop: () => Unit = () => (), timeoutMs: Long = 120000L)(
      sink: => ((DataFrame, Long) => Unit))(readOut: => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory(label)
    val srcDir = tmp.resolve("src").toString
    try {
      rows.repartition(nFiles).write.mode("overwrite").parquet(srcDir)
      drop()
      val batchBody = sink
      val q = spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          graft.GraftCache.withScope(batchBody(batch, id))
        }
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      await(q, label, timeoutMs)
      readOut
    } finally {
      drop()
      EventStream.deleteRecursively(tmp)
    }
  }

  /** Wait for an `AvailableNow` query to finish; stop it and throw if it
    * does not within `timeoutMs`, so no caller reads a partial result. */
  def await(q: StreamingQuery, label: String, timeoutMs: Long): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"$label: stream did not drain within ${timeoutMs / 1000} s — " +
          "refusing to return a partial result")
    }
}
