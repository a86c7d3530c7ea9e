package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * Bootstrap: `startCommit="0"` replays every current doc as an
  * insert, so batch 0 builds the whole index through the same fold —
  * no separate backfill job (the MvMaintenance convention).
  *
  * ONE maintenance driver per index: the folds are increments, so two
  * drivers processing the SAME churn (this service plus ad-hoc
  * `CALL maintain_search_index`, or two services on different
  * checkpoints) double-fold df/totals. The supported hand-over is
  * bootstrap-by-CALL then streaming from that point
  * (`startCommit` = the bootstrap's `since` watermark) — version
  * stamps are compatible because BOTH paths stamp index rows with
  * docs-table commit instants. */
object SearchIndexMaintenance {

  def start(
      spark: SparkSession,
      docsPath: String,
      postPath: String,
      statsPath: String,
      totalsPath: String,
      checkpoint: String,
      startCommit: String = "0"): StreamingQuery = {
    require(LakeTable.exists(spark, postPath),
      s"create the postings table ((doc_id, term) as primaryKey) first: $postPath")
    require(LakeTable.exists(spark, statsPath),
      s"create the df-stats table (term as primaryKey) first: $statsPath")
    require(LakeTable.exists(spark, totalsPath),
      s"create the totals table (id as primaryKey) first: $totalsPath")
    // the CDC source fixes its schema when the stream starts; a table
    // with no commits yet has no data columns, so the maintenance
    // query would bind to a metadata-only feed and never see doc_id
    require(LakeTable.load(spark, docsPath).schema.fieldNames.contains("doc_id"),
      s"docs table needs a first commit (schema with doc_id) before " +
        s"attaching maintenance: $docsPath")
    val once = new ExactlyOnce(spark, checkpoint)
    val micro = new MicroBatch(spark)
    spark.readStream.format("graft")
      .option("queryType", "cdc")
      .option("startCommit", startCommit)
      .load(docsPath)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the CDC micro-batch is persisted once, interpreted
        // ([[MicroBatch]]): the after/before splits feed the postings,
        // df, and totals folds on this continuously-hot path
        micro.fold(batch) { rows =>
          applyBatch(micro.interpreted, checkpoint, postPath, statsPath,
            totalsPath, once, rows, batchId)
        }
        ()
      }
      .start()
  }

  private def applyBatch(
      spark: SparkSession,
      checkpoint: String,
      postPath: String,
      statsPath: String,
      totalsPath: String,
      once: ExactlyOnce,
      batch: DataFrame,
      batchId: Long): Unit = {
    val op = col(LakeTable.ChangeOpCol)
    val bef = col(LakeTable.BeforeImageCol)
    val after = batch.filter(op =!= "d").select(col("doc_id"), col("text"))
    val before = batch.filter(op.isin("u", "d"))
      .select(bef.getField("doc_id").as("doc_id"),
        bef.getField("text").as("text"))
    // preCombine stamp = this batch's END-OFFSET docs commit instant
    // (read back from the checkpoint offset log, which pins it): one
    // consistent version domain with the CALL procedure (a
    // CALL-bootstrapped index hands over to streaming cleanly),
    // monotonic because offsets are commit instants applied in order,
    // and — unlike the table's newest instant at processing time —
    // REPRODUCIBLE on replay: a crash-window re-fire of this batch
    // folds the same values AND the same stamp the first attempt
    // would have, even if newer docs commits landed meanwhile.
    // Replay detection stays keyed to batchId via the per-table
    // guard — the stamp only orders versions within each table.
    val ts = OffsetLog.endOffsetInstant(spark, checkpoint, batchId).toLong
    SearchIndex.maintain(after, before,
      LakeTable.load(spark, postPath),
      LakeTable.load(spark, statsPath),
      LakeTable.load(spark, totalsPath),
      ts,
      guard = (t, f) => { once.runOnce(t, batchId)(f); () })
  }
}
