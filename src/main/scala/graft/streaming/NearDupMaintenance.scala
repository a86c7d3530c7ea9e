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
  * Bootstrap: `startCommit="0"` replays every current doc as an
  * insert, so batch 0 builds the store and pairs from the same code
  * path — no separate backfill job (the MvMaintenance convention).
  *
  * Scale: every join is keyed (band key, doc_id, or pair key); the
  * only relation ever re-shingled is the churn plus its candidate
  * partners; the pairs semi-joins split the OR-of-keys into two hash
  * semi-joins. No full-corpus stage anywhere after batch 0. */
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
      // fold cadence: every N batches re-cluster the sig store (by
      // fp), the posting index (by bk) and the pairs table, folding
      // the accumulated delta tails so the tiered MOR merge and the
      // col-stats file skipping stay O(churn) between folds. 0 = off
      // (tiny fixtures; an external table-service cadence). The fold
      // is a replace commit — OCC-safe, and a crash mid-fold leaves
      // the table unchanged.
      clusterEvery: Int = 0): StreamingQuery =
    startIndexService(spark, docsPath, "text", sigPath, pairsPath,
        postingsPath, checkpoint, startCommit, clusterEvery, Seq("fp"),
        "bk") { b =>
      val docsSnap = LakeTable.load(b.spark, docsPath).snapshot()
        .select("doc_id", "text")
      // candidate verification reads the docs table KEY-PRUNED
      // (snapshotForKeys bounds; candidates are O(churn) per batch)
      // instead of semi-joining the full snapshot scan
      val lookup = (ids: Seq[Long]) =>
        LakeTable.load(b.spark, docsPath)
          .snapshotForKeys(ids.map(_.toString).toSet)
          .select("doc_id", "text")
      graft.queries.NearDupIndex.reconcile(
        b.upserted, b.deleted, docsSnap, b.sigs, b.pairs, b.ts, b.tag,
        postings = b.postings, docsLookup = Some(lookup))
      ()
    }

  /** One non-empty micro-batch of a signature-index service: the
    * interpreted session it runs in ([[MicroBatch]]), the CDC split of
    * the source table, the state tables loaded in that session, the
    * preCombine stamp and the [[ExactlyOnce]] tag. */
  private[streaming] final case class IndexBatch(
      spark: SparkSession, batchId: Long, ts: Long, upserted: DataFrame,
      deleted: DataFrame, sigs: LakeTable, pairs: LakeTable,
      postings: Option[LakeTable], tag: Option[String])

  /** The ONE service skeleton of the maintained signature indexes (this
    * service and [[SignatureMaintenance]]): existence checks, the CDC
    * feed of `srcPath`, the exactly-once batch guard, the CDC split on
    * `valueCol`, the offset-log preCombine stamp, and the `clusterEvery`
    * fold by `groupKey` (sig store) and `bandCol` (posting index).
    * `reconcile` runs inside the exactly-once block, in the service's
    * interpreted session ([[MicroBatch]]). */
  private[streaming] def startIndexService(
      spark: SparkSession, srcPath: String, valueCol: String,
      sigPath: String, pairsPath: String, postingsPath: Option[String],
      checkpoint: String, startCommit: String, clusterEvery: Int,
      groupKey: Seq[String], bandCol: String)(reconcile: IndexBatch => Unit): StreamingQuery = {
    require(LakeTable.exists(spark, sigPath),
      s"create the signature store (doc_id as primaryKey) first: $sigPath")
    require(LakeTable.exists(spark, pairsPath),
      s"create the pairs table ((a, b) as primaryKey) first: $pairsPath")
    postingsPath.foreach(p => require(LakeTable.exists(spark, p),
      s"create the posting index (($bandCol, doc_id) as primaryKey) first: $p"))
    // the CDC source fixes its schema when the stream starts; a table
    // with no commits yet has no data columns, so the maintenance
    // query would bind to a metadata-only feed and never see doc_id.
    // valueCol checked here too: a misnamed column must fail fast with
    // the service's own message, not as an opaque streaming analysis
    // error after start
    val fields = LakeTable.load(spark, srcPath).schema.fieldNames.toSet
    require(Seq("doc_id", valueCol).forall(fields.contains),
      s"source table needs a first commit (schema with doc_id and " +
        s"'$valueCol') before attaching maintenance: $srcPath")
    val once = new ExactlyOnce(spark, checkpoint)
    val micro = new MicroBatch(spark)
    spark.readStream.format("graft")
      .option("queryType", "cdc")
      .option("startCommit", startCommit)
      .load(srcPath)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        def load(s: SparkSession, p: String) = LakeTable.load(s, p)
        val pairs = load(micro.interpreted, pairsPath)
        once.runOnce(pairs, batchId) { tag =>
          // the CDC micro-batch is persisted once, interpreted
          // ([[MicroBatch]]): the churn/deleted splits and the
          // reconcile's own consumers would otherwise re-run the CDC
          // net-diff per job on this continuously-hot path
          micro.fold(batch) { rows =>
            val (upserted, deleted) = LakeTable.cdcUpsertsAndDeletes(
              rows, "doc_id", Seq(valueCol))
            // preCombine stamp = this batch's END-OFFSET source commit
            // instant (pinned in the checkpoint offset log): ONE
            // version domain with the `CALL graft.system.maintain_*`
            // procedures, which stamp source commit instants — a
            // CALL-bootstrapped store hands over to streaming cleanly
            // (batch-id stamps, being tiny, would LOSE every read-side
            // merge against bootstrap-era rows). Monotonic across
            // checkpoint resets too, unlike batch ids. Same convention
            // as [[SearchIndexMaintenance]].
            val ts = OffsetLog.endOffsetInstant(spark, checkpoint, batchId)
              .toLong
            reconcile(IndexBatch(micro.interpreted, batchId, ts, upserted,
              deleted, load(micro.interpreted, sigPath), pairs,
              postingsPath.map(load(micro.interpreted, _)), tag))
          }
          ()
        }
        // maintenance fold OUTSIDE the exactly-once block: clustering
        // rewrites state, never content — replaying or skipping a
        // fold is always sound. A whole-table rewrite, so it runs in
        // the caller's session, with codegen
        if (clusterEvery > 0 && batchId > 0 && batchId % clusterEvery == 0) {
          val sigs = load(spark, sigPath)
          sigs.withOcc()(sigs.cluster(groupKey))
          postingsPath.map(load(spark, _))
            .foreach(p => p.withOcc()(p.cluster(Seq(bandCol))))
          val pairsC = load(spark, pairsPath)
          pairsC.withOcc()(pairsC.cluster())
        }
        ()
      }
      .start()
  }
}
