package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** `localCheckpoint` that does NOT inherit the pre-checkpoint plan's
  * ESTIMATED statistics.
  *
  * Spark's `Dataset.localCheckpoint` builds its `LogicalRDD` leaf via
  * `fromDataset`, which copies the origin plan's `Statistics` into the
  * leaf (`originStats`) so downstream planning keeps size information.
  * That is right for linear pipelines and catastrophic for ITERATIVE
  * ones whose per-round plan references the previous round's leaf
  * multiplicatively: `SizeInBytesOnlyStatsPlanVisitor` multiplies child
  * sizes at every join, so a round that references its input leaf k
  * times produces a leaf whose inherited sizeInBytes has k× the DIGITS
  * of its predecessor — exponential BigInteger growth. Measured on the
  * suffix-array deskew loop (6 references/round): digits 120 → 722 →
  * 4 334 → 26 002 → 156 015 → 936 088 → 5 616 526 by round 6, at which
  * point the driver spends minutes per ToomCook3 multiply inside
  * JoinSelection/AQE-reoptimize and the job effectively hangs — pure
  * planning cost, no data involved.
  *
  * The fix: localCheckpoint as usual — `fromDataset` derives the leaf's
  * `outputPartitioning`/`outputOrdering` from the executed plan — then
  * rebuild that SAME leaf (same checkpointed RDD, same output
  * attributes, same partitioning and ordering) with `originStats =
  * None`: the leaf reports the default size and AQE's runtime
  * statistics drive join strategy choices from there (every consumer of
  * these loops sits behind exchanges AQE re-optimizes). Unlike the
  * earlier `internalCreateDataFrame` form (round-14 ADVICE: it rebuilt
  * the leaf with `UnknownPartitioning`, re-shuffling the checkpointed
  * side of each round's co-partitioned join), partitioning metadata —
  * which IS load-bearing for exchange planning — survives; only the
  * estimated stats are dropped.
  */
object GraftCheckpointBridge {
  /** `eager = false` mirrors `localCheckpoint(false)` — the checkpoint
    * materializes at the caller's first action (the count-after-round
    * loop discipline), and the checkpoint blocks are reaped by the
    * ContextCleaner when the wrapped RDD is dropped, exactly as with a
    * plain lazy localCheckpoint. */
  def localCheckpointResetStats(df: Dataset[Row],
                                eager: Boolean = true): DataFrame = {
    val c = df.localCheckpoint(eager).asInstanceOf[classic.Dataset[Row]]
    val leaf = leafOf(c)
    val clean = LogicalRDD(leaf.output, leaf.rdd, leaf.outputPartitioning,
      leaf.outputOrdering, leaf.isStreaming, leaf.stream)(
      c.sparkSession, None, None)
    classic.Dataset.ofRows(c.sparkSession, clean)
  }

  /** Lazy `localCheckpoint` plus the RDD behind its leaf. The caller
    * materializes the checkpoint with its OWN job over that RDD — the
    * RDD is persisted, so every partition the job computes is cached,
    * and the job's end seals the local checkpoint without a second
    * pass — so one job both pins the rows and folds them (the keyed store's per-region
    * stats, [[graft.ops.KeyedStore]]). The DataFrame keeps the leaf's
    * partitioning and ordering, like an eager `localCheckpoint`.
    */
  def localCheckpointWithRdd(df: Dataset[Row]): (DataFrame, RDD[InternalRow]) = {
    val c = df.localCheckpoint(false).asInstanceOf[classic.Dataset[Row]]
    (c, leafOf(c).rdd)
  }

  private def leafOf(c: classic.Dataset[Row]): LogicalRDD =
    c.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l
    }.getOrElse(throw new IllegalStateException(
      "localCheckpoint did not produce a LogicalRDD leaf"))
}
