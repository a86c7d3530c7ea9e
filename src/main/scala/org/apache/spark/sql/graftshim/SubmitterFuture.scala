package org.apache.spark.sql.graftshim

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** `Future(body)` on the global pool, run with the SUBMITTING thread's
  * Spark local properties (job group, scheduler pool, SQL execution
  * and streaming query ids, propagated SQL confs). A pooled thread
  * otherwise keeps the snapshot it inherited from whichever thread
  * created it, so a job of one streaming service could run under
  * another service's job group — and be cancelled when that service
  * stops. The worker's own properties are restored after the body.
  * Lives under org.apache.spark because the active context and the
  * property setters are `private[spark]`. */
object SubmitterFuture {
  def apply[T](body: => T): Future[T] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    SparkContext.getActive match {
      case None => Future(body)
      case Some(sc) =>
        val props = Utils.cloneProperties(sc.getLocalProperties)
        Future {
          val own = sc.getLocalProperties
          sc.setLocalProperties(props)
          try body finally sc.setLocalProperties(own)
        }
    }
  }
}
