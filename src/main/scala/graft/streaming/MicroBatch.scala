package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.InterpretedSession

/** The ONE micro-batch path of the engine-owned index services
  * ([[NearDupMaintenance]], [[SignatureMaintenance]] and
  * [[SearchIndexMaintenance]]). A service's fixed cost per batch is
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
