package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.InterpretedSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.LakeTable

/** The ONE micro-batch path of the CDC-fed maintenance services
  * ([[MicroBatch.start]]). A service's fixed cost per batch is
  * dozens of small Spark jobs over a handful of CDC rows; compiled,
  * those jobs recompile their generated classes whenever the JVM-wide
  * class cache has evicted them, which dominates the batch. So every
  * batch is re-planned in the service's interpreted session
  * ([[InterpretedSession]]) and persisted there once (its splits and
  * the fold's own consumers would otherwise re-run the CDC net-diff per
  * job); the state-table loads, the fold and its background writes all
  * run in that session. The rows stay on the executors: a batch of any
  * size or payload takes this one path.
  *
  * The interpreted session is cloned ONCE, when the service starts, the
  * way Structured Streaming fixes each query's own session: a conf the
  * caller sets after `start` (e.g. `spark.graft.*` read tuning) reaches
  * the fold only after a restart. */
private[graft] final class MicroBatch(caller: SparkSession) {

  val interpreted: SparkSession = InterpretedSession.of(caller)

  /** Folds `batch` re-planned and persisted in [[interpreted]]; None for
    * an empty batch (no state to change). */
  def fold[T](batch: DataFrame)(body: DataFrame => T): Option[T] = {
    val rows = InterpretedSession.replan(interpreted, batch).persist()
    try if (rows.isEmpty) None else Some(body(rows))
    finally rows.unpersist()
  }
}

/** The ONE service skeleton of the four CDC-fed maintenance services
  * ([[NearDupMaintenance]], [[SignatureMaintenance]],
  * [[SearchIndexMaintenance]] and [[MvMaintenance]]): the CDC feed of a
  * source table drives a checkpointed `foreachBatch` fold of the
  * service's state tables, exactly once per batch. Structured Streaming
  * runs every `foreachBatch` sink through one micro-batch executor; the
  * engine's own services likewise share this one path, and each keeps
  * only its fold.
  *
  * Bootstrap: `startCommit="0"` replays every current source row as an
  * insert, so batch 0 builds the state through the same fold as every
  * later batch — no separate backfill job.
  *
  * An empty batch (a source commit with no net change) folds nothing:
  * it is skipped before any guard, so it writes no exactly-once marker
  * and no state commit. */
private[graft] object MicroBatch {

  /** One non-empty CDC micro-batch, handed to a service's fold: the
    * caller's session, the service's interpreted session ([[spark]],
    * where `rows` is persisted once), the batch id, the [[ExactlyOnce]]
    * guard and the preCombine stamp. */
  final class Batch private[MicroBatch] (
      val caller: SparkSession, val spark: SparkSession, val id: Long,
      val rows: DataFrame, once: ExactlyOnce, checkpoint: String) {

    /** Folds `apply` into `table` at most once per batch id; `apply`
      * gets the tag to record atomically with its commit. */
    def guard(table: LakeTable, apply: Option[String] => Unit): Unit =
      once.runOnce(table, id)(apply)

    /** preCombine stamp = this batch's END-OFFSET source commit instant,
      * read back from the checkpoint offset log, which pins it. One
      * version domain with the `CALL graft.system.maintain_*`
      * procedures, which stamp source commit instants: a
      * CALL-bootstrapped state hands over to streaming cleanly
      * (batch-id stamps, being tiny, would LOSE every read-side merge
      * against bootstrap-era rows). Monotonic across checkpoint resets
      * too, and REPRODUCIBLE on replay: a crash-window re-fire folds the
      * same stamp the first attempt did, even if newer source commits
      * landed meanwhile. Replay detection stays keyed to the batch id. */
    lazy val ts: Long = OffsetLog.endOffsetInstant(caller, checkpoint, id).toLong

    def load(path: String): LakeTable = LakeTable.load(spark, path)
  }

  /** Starts a service: checks that every state table exists
    * (`stateTables` = (path, the message that tells how to create it))
    * and that `srcPath` has a schema holding `srcCols`, then folds each
    * non-empty CDC batch of `srcPath` with `fold`, in one interpreted
    * session fixed at this call ([[MicroBatch]]). */
  def start(
      spark: SparkSession, srcPath: String, srcCols: Seq[String],
      stateTables: Seq[(String, String)], checkpoint: String,
      startCommit: String)(fold: Batch => Unit): StreamingQuery = {
    stateTables.foreach { case (p, what) => require(LakeTable.exists(spark, p), s"$what: $p") }
    // the CDC source fixes its schema when the stream starts; a table
    // with no commits yet has no data columns, so the service would
    // bind to a metadata-only feed. `srcCols` are checked here too: a
    // misnamed column must fail fast with the service's own message,
    // not as an opaque streaming analysis error after start
    val fields = LakeTable.load(spark, srcPath).schema.fieldNames
    require(fields.nonEmpty && srcCols.forall(fields.contains),
      s"source table needs a first commit (schema" +
        (if (srcCols.isEmpty) "" else srcCols.mkString(" with ", ", ", "")) +
        s") before attaching maintenance: $srcPath")
    val once = new ExactlyOnce(spark, checkpoint)
    val micro = new MicroBatch(spark)
    spark.readStream.format("graft")
      .option("queryType", "cdc")
      .option("startCommit", startCommit)
      .load(srcPath)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        micro.fold(batch)(rows =>
          fold(new Batch(spark, micro.interpreted, id, rows, once, checkpoint)))
        ()
      }
      .start()
  }
}
