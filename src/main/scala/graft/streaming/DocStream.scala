package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming document curation against FROZEN trained artifacts — the
  * online half of the train-once/serve-frozen discipline
  * ([[graft.ops.TextOps.qualityModelFor]]): a crawler feed is gated by
  * the classifier the offline pipeline trained, never by a model that
  * shifts under the stream.
  */
object DocStream {

  /** STREAMING maintenance of the durable suffix index — the online
    * leg of the Lee-et-al deployment shape (round-14 verdict stretch
    * item): an offline build persists the base corpus's linked SA+LCP
    * structure, then each arriving document micro-batch merges through
    * [[graft.ops.DedupOps.suffixIndexAppend]] — delta-proportional
    * compute, covering-region writes, exactly the small-batch regime
    * where append beats rebuild (ROUND15_NOTES crossover table) — and
    * the index stays continuously serveable.
    *
    * Exactly-once audit: suffix appends are NOT pure functions of the
    * batch (key assignment depends on store state), so unlike the ANN
    * posting sinks a replay is not automatically a content no-op. The
    * fence is the store's meta fingerprint
    * ([[graft.ops.DedupOps.suffixIndexStreamAppend]]): a replayed
    * batch finds the store already at its post-state fingerprint and
    * writes nothing; a torn append (crash between upsert and
    * checkpoint) matches neither pre- nor post-state and rebuilds —
    * torn structure is never served. SuffixStreamSpec exercises both
    * through an injected crash + checkpoint restart.
    *
    * The row resolves warm-first like the batch incremental twin: a
    * store already holding the full corpus serves directly; otherwise
    * base build → 2-batch drain → serve. Output = full-corpus
    * duplication statistics, row-identical to q_suffix_dedup (the
    * oracle is the SAME stats SQL).
    */
  def qStreamSuffixIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{DedupOps, KeyedStore}
    val name = "graft_stream_suffix_index_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    val docs = graft.Tables.documents(spark, dir)
    // warm probe only — whether the stream machinery needs to run at
    // all; serve at the end re-resolves the fingerprint itself
    if (!DedupOps.suffixStoreFresh(docs, name)) Drain.scoped(spark) { s =>
      val narrow = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val base = narrow.filter(col("doc_id") % 41 =!= 0)
      // No `drop`: the index outlives the drain and is served below.
      Drain.files(s, "q_stream_suffix_index", narrow.filter(col("doc_id") % 41 === 0),
          2, timeoutMs = 180000L) {
        KeyedStore.drop(s, name)
        DedupOps.suffixIndexBuild(base, name).collect()
        // the corpus committed so far — advanced after each batch; on a
        // crash-restart the var resets and replayed batches fall on the
        // fingerprint fence instead
        var seen = base
        (batch, _) =>
          if (!batch.isEmpty) {
            val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
            DedupOps.suffixIndexStreamAppend(seen, b, name)
            seen = seen.unionByName(b)
          }
      }(())
    }
    DedupOps.suffixIndexServe(docs, name)
  }

  /** Streaming quality gate — [[graft.ops.TextOps.qQualityClassify]]'s
    * streaming twin (round-13 verdict item #3's streaming leg): the
    * model is trained/loaded ONCE before the stream starts (batches
    * must all serve the SAME weights — a per-batch train would score
    * early documents against partial corpora), then every arriving
    * micro-batch is scored against the frozen weights and upserted into
    * a keyed store.
    *
    * Exactly-once audit: each stored row is a pure function of
    * (document, frozen model), so a replayed batch rewrites
    * byte-identical rows — a content no-op, the latest-wins sink class
    * ([[EventStream.qStreamUpsert]]), no batch-id fence needed.
    * Result: per-language gate accounting read from the store — equal
    * to the batch classifier's aggregate, which is what the oracle
    * computes (StreamingSpec pins stream-vs-batch equality too).
    */
  def qStreamQualityGate(spark: SparkSession, dir: String): DataFrame =
    Drain.scoped(spark) { s =>
      val name = "graft_stream_qgate_store"
      val docs = graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
      Drain.files(s, "q_stream_quality_gate", docs, 2,
          () => graft.ops.KeyedStore.drop(s, name)) {
        // Freeze (train or load) before any batch arrives.
        graft.ops.TextOps.qualityModelFor(s, dir, 1024, 8)
        (batch, _) =>
          if (!batch.isEmpty) {
            val scored = graft.ops.TextOps.classifyFrozen(s, dir, batch)
              .join(batch.select(col("doc_id"), col("lang")), Seq("doc_id"))
              .select(col("doc_id"), col("lang"), col("score"),
                col("quality_pass"))
            if (!graft.ops.KeyedStore.exists(s, name)) {
              graft.ops.KeyedStore.create(s, name, scored, "doc_id", 512)
            } else {
              // returned full-table read deliberately discarded (the
              // store's read-isolation contract); reads go through scan
              graft.ops.KeyedStore.upsert(s, name, "doc_id",
                scored.select(col("doc_id"), lit("U").as("op"), col("lang"),
                  col("score"), col("quality_pass")))
              ()
            }
          }
      } {
        // Materialize before the temp store drops (fixture-scale; at real
        // scale the gated store IS the durable output).
        graft.ops.KeyedStore.scan(s, name, "doc_id", 0L, Long.MaxValue)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("quality_pass"), 1L).otherwise(0L)).as("n_pass"),
            coalesce(sum(when(col("quality_pass"), col("score"))), lit(0L))
              .as("passed_score"))
          .orderBy(col("lang"))
          .localCheckpoint()
      }
    }
}
