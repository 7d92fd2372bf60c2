package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Changelog

/** Streaming materialization of a changelog — the micro-batch face of
  * [[graft.ops.Changelog.cdcApply]], the same `foreachBatch`-store-merge
  * shape as [[StreamDedup.softDedupIngest]]: each batch of change events
  * folds into the accumulated key→value store (latest-wins, deletes
  * win), which is what a Delta/iceberg MERGE target or a Kafka-compacted
  * topic materializer does per poll.
  *
  * Ordering contract (shared with `StreamFunnel` and the trailing KPIs):
  * batches are CONTIGUOUS ordered splits of the change stream — a
  * batch's sequence numbers are ≥ everything already folded. Under that
  * contract any split reproduces the single-shot batch apply exactly
  * (the spec pins this), because latest-wins is associative over ordered
  * splits: fold(fold(S, b1), b2) = fold(S, b1 ++ b2). Out-of-order
  * WITHIN a batch is fine — the per-batch compaction sorts by
  * (seq, tie) before applying. A stale change that arrives in a LATER
  * batch than a newer change of its key breaks the contract: no per-key
  * state remembers the winning (seq, tie) across batches.
  *
  * Scale: the store re-reads per batch (stream-static semantics); state
  * is one row per live key — the minimum any upsert materialization
  * carries. The merge join is AQE-sized; a daily-delta batch broadcasts
  * itself against the store, never the reverse.
  */
object StreamUpsert {

  /** Fold one micro-batch of changes into the store; returns the UPDATED
    * store `(keyCol, valCol)` (write it back from `foreachBatch`).
    */
  def upsertIngest(store: DataFrame, batch: DataFrame, keyCol: String,
                   seqCol: String, tieCol: String, opCol: String,
                   valCol: String): DataFrame =
    Changelog.cdcApply(store.select(col(keyCol), col(valCol)), batch,
        keyCol, seqCol, tieCol, opCol, valCol)
      .select(col(keyCol), col(valCol))
}
