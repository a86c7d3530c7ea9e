package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.LakeTable

/** Production-shape streaming incremental materialized view: the CDC
  * feed of a base table drives a checkpointed `foreachBatch` refresh
  * of a keyed aggregate table. The batch query `pipe3_incremental_mv`
  * is the same operator run once; this wires it to run CONTINUOUSLY
  * with exactly-once folding.
  *
  * Per micro-batch:
  *   1. `deltasOf(batch)` reduces the CDC rows (`_change_op` i/u/d,
  *      after images + `_before` struct) to per-group deltas keyed by
  *      the MV's primary key — O(churn);
  *   2. `fold(stored, deltas)` merges them into the MV's current rows
  *      — O(touched groups), never a base-table scan;
  *   3. the MV upsert commits with the batch id in its tag
  *      ([[ExactlyOnce]]): a batch replayed after a crash or restart
  *      is detected and SKIPPED, so the non-idempotent delta fold can
  *      never double-apply. Combined with the CDC source's replayable
  *      offsets (commit instants) this is end-to-end exactly-once.
  *
  * The MV table must exist (create it with the group key as primary
  * key). `mvSchema` declares the MV's data columns so the bootstrap
  * batch hands `fold` an EMPTY frame of that shape rather than the
  * zero-column snapshot of a never-written table — the fold can always
  * join on its group key without special-casing batch 0.
  *
  * The service runs on the one skeleton, [[MicroBatch.start]], so, like
  * the other three services: `deltasOf` and `fold` see the batch
  * persisted once in an interpreted clone of the caller's session, whose
  * conf is fixed at `start`; and an empty batch is skipped before the
  * guard (no MV rewrite from `fold(stored, ∅)`). */
object MvMaintenance {

  def start(
      spark: SparkSession,
      basePath: String,
      mvPath: String,
      checkpoint: String,
      mvSchema: org.apache.spark.sql.types.StructType,
      deltasOf: DataFrame => DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame,
      startCommit: String = "0"): StreamingQuery =
    MicroBatch.start(spark, basePath, Nil, Seq(mvPath ->
        "create the MV table (group key as primaryKey) before starting"),
        checkpoint, startCommit) { b =>
      val mv = b.load(mvPath)
      b.guard(mv, tag => {
        val snap = mv.snapshot().drop(LakeTable.MetaCols: _*)
        val stored =
          if (snap.columns.nonEmpty) snap
          else b.spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), mvSchema)
        mv.upsert(fold(stored, deltasOf(b.rows)), tag = tag)
      })
    }
}
