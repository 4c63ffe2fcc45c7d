package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming vector ingestion into the store-persisted ANN index — the
  * serving-side maintenance loop: an offline build freezes the codebook
  * ([[graft.ops.AnnIndexOps.buildIndex]]), then every arriving vector
  * micro-batch is assigned against that codebook and appended to the
  * posting lists ([[graft.ops.AnnIndexOps.appendBatch]]) while the
  * index stays continuously serveable. Re-clustering remains an offline
  * rebuild — the standard IVF practice; the stream never moves existing
  * postings.
  *
  * Exactly-once audit (the foreachBatch sink discipline): an append is
  * an upsert of composite `c<cell>#m<member>` keys whose VALUES are a
  * pure function of the frozen codebook and the vector — a replayed
  * batch re-inserts byte-identical rows over themselves (content
  * no-op), and batches with disjoint vectors commute, so the final
  * store is independent of how the source files happen to batch and
  * needs no batch-id fence (same class as [[EventStream]]'s
  * latest-wins merge, unlike its additive top-k sink).
  */
object VectorStream {
  import graft.ops.{AnnIndexOps, KeyedStore, SimilarityOps}

  /** Driver-checked row: build from the 90% base slice, drain the 10%
    * delta as a 2-file AvailableNow stream (one file per micro-batch)
    * through appendBatch, then serve queries over the union — the
    * result is identical to the batch [[AnnIndexOps.qAnnIndexIncremental]]
    * path, so the row shares its base-codebook oracle.
    */
  def qStreamAnnIndex(spark: SparkSession, dir: String): DataFrame =
    Drain.scoped(spark) { s =>
      val name = "graft_stream_ann_index"
      val embs = graft.Tables.embeddings(s, dir)
      Drain.files(s, "q_stream_ann_index", embs.filter(col("vec_id") % 10 === 0), 2,
          () => KeyedStore.drop(s, name)) {
        // The OFFLINE base build is the frozen victim, not the measured
        // streaming capability: a clone of the same base index the batch
        // incremental/rebalance rows use.
        graft.FixtureStores.annBase90(s, dir, embs, pq = false, name)
        (batch, _) => if (!batch.isEmpty) AnnIndexOps.appendBatch(s, name, batch)
      } {
        // Materialize before the temp store is dropped (fixture-scale;
        // at real scale the index table IS durable and outlives the job).
        AnnIndexOps.serve(s, name, embs, col("vec_id") < 5).localCheckpoint()
      }
    }

  /** The true-PQ twin of [[qStreamAnnIndex]]: offline build freezes BOTH
    * codebooks (coarse cells + per-subspace PQ), each arriving batch is
    * PQ-encoded and routed against them ([[AnnIndexOps.appendPqBatch]])
    * and appended as 16-byte posting rows. The same exactly-once class:
    * posting keys and values are pure functions of the frozen codebooks
    * and the vector, so replays are content no-ops and batches commute —
    * no fence needed. Results equal the batch
    * [[AnnIndexOps.qAnnPqIncremental]], whose oracle the row shares.
    */
  def qStreamPqIndex(spark: SparkSession, dir: String): DataFrame =
    Drain.scoped(spark) { s =>
      val name = "graft_stream_pq_index"
      val embs = graft.Tables.embeddings(s, dir)
      // ONE micro-batch (round-13 verdict item #7): each append pays
      // ~2 s of fixed commit machinery, so the second batch was pure
      // fixture tax. Multi-batch commutativity + crash-replay of this
      // sink are pinned by StreamingSpec's PQ fault-injection test (two
      // batches, injected crash, checkpoint restart), and the int8 twin
      // q_stream_ann_index still drains two batches in the bench suite.
      Drain.files(s, "q_stream_pq_index", embs.filter(col("vec_id") % 10 === 0), 1,
          () => KeyedStore.drop(s, name)) {
        // Offline base build: a clone of the shared PQ base index (see
        // qStreamAnnIndex's note).
        graft.FixtureStores.annBase90(s, dir, embs, pq = true, name)
        (batch, _) => if (!batch.isEmpty) AnnIndexOps.appendPqBatch(s, name, batch)
      } {
        AnnIndexOps.servePq(s, name, embs, col("vec_id") < 5).localCheckpoint()
      }
    }

  /** Streaming drift monitor — [[graft.ops.SimilarityOps.embeddingDrift]]
    * run the way production runs it: the delta batch arrives as
    * micro-batches, each is assigned against the FROZEN base codebook
    * and its per-cell counts are merged into a durable histogram store
    * through [[EventStream.additiveFencedMerge]] (counts are additive,
    * NOT idempotent — this sink needs the in-row (bid, bn) replay fence
    * the index-append sink above doesn't). The PSI read-out over
    * base-histogram ∪ store equals the batch monitor exactly, so the
    * row shares its oracle.
    */
  def qStreamDrift(spark: SparkSession, dir: String): DataFrame =
    Drain.scoped(spark) { s =>
      val name = "graft_stream_drift_store"
      val embs = graft.Tables.embeddings(s, dir)
      val basePred = col("vec_id") % 10 =!= 0
      // Frozen codebook, materialized once (16 rows) so per-batch
      // closures don't re-derive it from the corpus.
      val cent = SimilarityOps.driftCodebook(embs, basePred, 16)
        .localCheckpoint()
      Drain.files(s, "q_stream_drift", embs.filter(!basePred), 2,
          () => KeyedStore.drop(s, name)) {
        (batch, bid) =>
          if (!batch.isEmpty) {
            val counts = SimilarityOps.nearestCell(batch, cent)
              .groupBy(col("c_id")).agg(count(lit(1)).as("bn"))
            EventStream.additiveFencedMerge(s, name, "c_id", counts,
              bid, targetRowsPerRegion = 8)
          }
      } {
        val baseHist = SimilarityOps.nearestCell(embs.filter(basePred), cent)
          .groupBy(col("c_id")).agg(count(lit(1)).as("n_base"))
        val deltaHist = s.table(name)
          .select(col("c_id"), col("n").as("n_delta"))
        val hist = baseHist.join(deltaHist, Seq("c_id"), "full_outer")
          .select(col("c_id"),
                  coalesce(col("n_base"), lit(0L)).as("n_base"),
                  coalesce(col("n_delta"), lit(0L)).as("n_delta"))
        SimilarityOps.psiFromHist(hist).localCheckpoint()
      }
    }
}
