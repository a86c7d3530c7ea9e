package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.LakeTable

/** Production-shape streaming near-duplicate maintenance: the CDC feed
  * of a documents lake table drives a checkpointed `foreachBatch`
  * reconciliation of an LSH signature store and a verified-pairs
  * table. The batch gate `pipe4_incremental_neardup` is the same
  * operator run once; this wires it to run CONTINUOUSLY — dedup state
  * stays current as the corpus ingests, at O(churn) per micro-batch,
  * never a full-corpus LSH rebuild.
  *
  * Per micro-batch (CDC rows: `_change_op` i/u/d, after images +
  * `_before` struct):
  *   1. deleted docs' signatures leave the store (keyed delete);
  *      upserted docs are re-shingled/re-hashed and their PACKED band
  *      signatures upserted — both idempotent on replay;
  *   2. candidates = the churn's exploded bands equi-joined against
  *      the store (which now holds CURRENT signatures of the whole
  *      corpus), exact-Jaccard-verified against a candidate-pruned
  *      slice of the docs snapshot;
  *   3. the pairs table reconciles in ONE 3-clause merge — delete
  *      stored pairs touching churn that no longer qualify, update
  *      re-verified ones, insert new ones — committed with the batch
  *      id in its tag ([[ExactlyOnce]]).
  *
  * Unlike the MV delta fold, this reconciliation is STATE-based (it
  * recomputes churn-adjacent pairs from current signatures rather than
  * incrementing), so a replayed batch converges to the same state; the
  * batch tag still short-circuits replays so a restart never pays the
  * LSH pass twice, and the signature-upsert→pairs-merge crash window
  * re-runs from the signature step, which is idempotent.
  *
  * Scale: every join is keyed (band key, doc_id, or pair key); the
  * only relation ever re-shingled is the churn plus its candidate
  * partners; the pairs semi-joins split the OR-of-keys into two hash
  * semi-joins. No full-corpus stage anywhere after batch 0.
  *
  * Runs on the one service skeleton, [[MicroBatch.start]], which
  * bootstraps by replay and skips empty batches. */
object NearDupMaintenance {

  def start(
      spark: SparkSession,
      docsPath: String,
      sigPath: String,
      pairsPath: String,
      checkpoint: String,
      startCommit: String = "0",
      // optional band-posting index (NearDupIndex.reconcile's postings
      // contract): create it keyed (bk, doc_id) with statsColumns
      // (bk, ts) and attach it from the service's FIRST batch
      postingsPath: Option[String] = None,
      // fold cadence: every N batches (each non-empty batch whose id
      // is a multiple of N) re-cluster the sig store (by fp), the
      // posting index (by bk) and the pairs table, folding the
      // accumulated delta tails so the tiered MOR merge and the
      // col-stats file skipping stay O(churn) between folds. 0 = off
      // (tiny fixtures; an external table-service cadence). The fold
      // is a replace commit — OCC-safe, and a crash mid-fold leaves
      // the table unchanged.
      clusterEvery: Int = 0): StreamingQuery =
    signatureService(spark, docsPath, "text", sigPath, pairsPath, postingsPath,
        checkpoint, startCommit, clusterEvery, Seq("fp"), "bk") { b =>
      val docsSnap = b.batch.load(docsPath).snapshot().select("doc_id", "text")
      // candidate verification reads the docs table KEY-PRUNED
      // (snapshotForKeys bounds; candidates are O(churn) per batch)
      // instead of semi-joining the full snapshot scan
      val lookup = (ids: Seq[Long]) => b.batch.load(docsPath)
        .snapshotForKeys(ids.map(_.toString).toSet).select("doc_id", "text")
      graft.queries.NearDupIndex.reconcile(
        b.upserted, b.deleted, docsSnap, b.sigs, b.pairs, b.batch.ts, b.tag,
        postings = b.postings, docsLookup = Some(lookup))
    }

  /** One non-empty micro-batch of a signature-index service: the
    * skeleton's batch ([[MicroBatch.Batch]]), its CDC split on the
    * value column, the state tables loaded in its interpreted session
    * and the pairs guard's [[ExactlyOnce]] tag. */
  private[streaming] final case class IndexBatch(
      batch: MicroBatch.Batch, upserted: DataFrame, deleted: DataFrame,
      sigs: LakeTable, pairs: LakeTable, postings: Option[LakeTable],
      tag: Option[String])

  /** The part the two signature-index services (this one and
    * [[SignatureMaintenance]]) share on the skeleton
    * ([[MicroBatch.start]]): the state tables they need, the CDC split
    * on `valueCol`, the exactly-once guard on the pairs table — the
    * LAST write of a reconcile — and the `clusterEvery` fold by
    * `groupKey` (sig store) and `bandCol` (posting index). */
  private[streaming] def signatureService(
      spark: SparkSession, srcPath: String, valueCol: String,
      sigPath: String, pairsPath: String, postingsPath: Option[String],
      checkpoint: String, startCommit: String, clusterEvery: Int,
      groupKey: Seq[String], bandCol: String)(reconcile: IndexBatch => Unit): StreamingQuery =
    MicroBatch.start(spark, srcPath, Seq("doc_id", valueCol), Seq(
        sigPath -> "create the signature store (doc_id as primaryKey) first",
        pairsPath -> "create the pairs table ((a, b) as primaryKey) first") ++
        postingsPath.map(_ -> s"create the posting index (($bandCol, doc_id) as primaryKey) first"),
        checkpoint, startCommit) { b =>
      val pairs = b.load(pairsPath)
      b.guard(pairs, tag => {
        val (upserted, deleted) = LakeTable.cdcUpsertsAndDeletes(b.rows, "doc_id", Seq(valueCol))
        reconcile(IndexBatch(b, upserted, deleted, b.load(sigPath), pairs,
          postingsPath.map(b.load), tag))
      })
      // maintenance fold OUTSIDE the exactly-once block: clustering
      // rewrites state, never content — replaying or skipping a fold is
      // always sound. A whole-table rewrite, so it runs in the caller's
      // session, with codegen
      if (clusterEvery > 0 && b.id > 0 && b.id % clusterEvery == 0)
        ((sigPath -> groupKey) +: postingsPath.map(_ -> Seq(bandCol)).toSeq :+
            (pairsPath -> Nil)).foreach { case (p, by) =>
          val t = LakeTable.load(b.caller, p)
          t.withOcc()(t.cluster(by))
        }
    }
}
