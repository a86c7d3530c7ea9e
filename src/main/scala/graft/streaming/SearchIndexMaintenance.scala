package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.LakeTable
import graft.queries.SearchIndex

/** Production-shape streaming BM25 search-index maintenance: the CDC
  * feed of a documents lake table drives a checkpointed `foreachBatch`
  * fold of the postings / df-stats / totals tables. The batch gate
  * `pipe6_incremental_bm25` is the same [[SearchIndex]] fold run
  * twice; this wires it to run CONTINUOUSLY — the index stays current
  * as the corpus ingests, at O(churn terms) per micro-batch, never a
  * corpus recount.
  *
  * Exactly-once across a THREE-table fold: the df and totals folds are
  * non-idempotent (a replayed batch would double-increment), and the
  * three writes are three commits — a crash can land between them. So
  * the batch guard is PER TABLE ([[ExactlyOnce.runOnce]] with the
  * batch id recorded atomically in each table's commit tag): on a
  * crash-window replay, tables that already folded the batch skip it,
  * tables the crash missed apply it, and the batch deltas derive only
  * from the CDC images (never from state), so the late appliers fold
  * exactly the values the first attempt would have — the trio
  * converges under crash-anywhere replay.
  *
  * ONE maintenance driver per index: the folds are increments, so two
  * drivers processing the SAME churn (this service plus ad-hoc
  * `CALL maintain_search_index`, or two services on different
  * checkpoints) double-fold df/totals. The supported hand-over is
  * bootstrap-by-CALL then streaming from that point
  * (`startCommit` = the bootstrap's `since` watermark) — version
  * stamps are compatible because BOTH paths stamp index rows with
  * docs-table commit instants ([[MicroBatch.Batch.ts]]).
  *
  * Runs on the one service skeleton, [[MicroBatch.start]], which
  * bootstraps by replay and skips empty batches. */
object SearchIndexMaintenance {

  def start(
      spark: SparkSession,
      docsPath: String,
      postPath: String,
      statsPath: String,
      totalsPath: String,
      checkpoint: String,
      startCommit: String = "0"): StreamingQuery =
    MicroBatch.start(spark, docsPath, Seq("doc_id", "text"), Seq(
        postPath -> "create the postings table ((doc_id, term) as primaryKey) first",
        statsPath -> "create the df-stats table (term as primaryKey) first",
        totalsPath -> "create the totals table (id as primaryKey) first"),
        checkpoint, startCommit) { b =>
      val (after, before) = LakeTable.cdcAfterAndBefore(b.rows, Seq("doc_id", "text"))
      SearchIndex.maintain(after, before, b.load(postPath), b.load(statsPath),
        b.load(totalsPath), b.ts, guard = b.guard)
    }
}
