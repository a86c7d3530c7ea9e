package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.internal.SQLConf

/** A clone of a caller's session that plans and evaluates without
  * generated code: whole-stage codegen off and expression factories
  * (projections, predicates, orderings) interpreted. Small, repeated
  * plans — a maintenance service's micro-batch folds over a few rows —
  * otherwise pay a Janino compile per job whenever the JVM-wide class
  * cache (`spark.sql.codegen.cache.maxEntries`, a static conf) has
  * evicted their code, which costs more than the rows themselves.
  *
  * A clone, the way Structured Streaming gives each query its own
  * session (`cloneSession()`): it shares the SparkContext, the cache
  * manager and the catalogs, and the caller's own conf is never
  * modified. The clone copies the caller's conf as it is when `of`
  * runs; later changes to either session do not reach the other.
  * Lives under org.apache.spark.sql because `cloneSession` and
  * `Dataset.ofRows` are `private[sql]` and the factory mode is an
  * internal conf. */
object InterpretedSession {
  def of(spark: SparkSession): SparkSession = {
    val clone = spark.asInstanceOf[ClassicSession].cloneSession()
    clone.sessionState.conf.setConf(SQLConf.WHOLESTAGE_CODEGEN_ENABLED, false)
    clone.sessionState.conf.setConf(SQLConf.CODEGEN_FACTORY_MODE,
      CodegenObjectFactoryMode.NO_CODEGEN)
    clone
  }

  /** `df`'s analyzed plan as a frame of `session`: planned, optimized
    * and run there from now on. Nothing is evaluated. */
  def replan(session: SparkSession, df: DataFrame): DataFrame =
    ClassicDataset.ofRows(session.asInstanceOf[ClassicSession],
      df.queryExecution.analyzed)

  /** Runs `body` with `session`'s SQL confs set as the thread's job
    * properties, as every Dataset action does: an RDD action over a
    * frame (`df.rdd.treeAggregate`) otherwise evaluates the frame's
    * expressions on the executors under whatever confs its caller's
    * thread carries, e.g. compiled inside an interpreted session's
    * fold. */
  def withConfs[T](session: SparkSession)(body: => T): T =
    SQLExecution.withSQLConfPropagated(session.asInstanceOf[ClassicSession])(body)
}
