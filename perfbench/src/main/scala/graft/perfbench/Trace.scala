package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `parent` is 0 for a top-level span; `op` is the
  * id of the top-level span it belongs to. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and counters of the traced run, kept in memory and written
  * out when the run ends. With `on = false` every call is a plain
  * pass-through, so the untraced run pays nothing for it. */
final class Trace(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val counters = new ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()
  /** Phase of the run (setup, run, check): the Spark listener's bucket
    * for a job that no op submitted. */
  @volatile var phase: String = "setup"

  def span[T](name: String)(f: => T): T =
    if (!on) f else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, op) = outer.headOption.getOrElse((0L, id))
      stack.set((id, op) :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, op, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  /** A span measured elsewhere (a streaming micro-batch). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (on) { val id = ids.incrementAndGet(); spans.add(Span(id, 0, name, id, startNs, endNs)) }

  def count(name: String, v: Double = 1.0): Unit =
    if (on) counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder).add(v)
  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum()).getOrElse(0.0)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)
  def durationsWithPrefix(prefix: String): Seq[Double] =
    all.filter(_.name.startsWith(prefix)).map(_.ms)

  /** Share of [t0, t1] covered by the union of top-level spans. */
  def coverage(t0: Long, t1: Long): Double =
    Trace.unionNs(all.filter(_.parent == 0)
      .map(s => (math.max(s.startNs, t0), math.min(s.endNs, t1)))) / (t1 - t0).toDouble

  /** Self time per layer (the span-name prefix before the first dot):
    * each span's duration minus the union of its children's intervals. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupMapReduce(_.name.takeWhile(_ != '.')) { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      (s.endNs - s.startNs - Trace.unionNs(c)) / 1e6
    }(_ + _)
  }
}

object Trace {
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }
}

/** Spark execution totals per bucket: the op whose thread submitted
  * the job, `streaming` for a job a streaming query ran, or else the
  * run's phase. */
final class SparkTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0.0; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  def add(o: SparkTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

final class SparkMeter(trace: Trace) extends SparkListener {
  private val stageBucket = new ConcurrentHashMap[Int, String]()
  val byBucket: mutable.Map[String, SparkTotals] = mutable.Map.empty

  private def at(b: String): SparkTotals = byBucket.getOrElseUpdate(b, new SparkTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val b = if (props.exists(_.getProperty("sql.streaming.queryId") != null)) "streaming"
      else props.flatMap(p => Option(p.getProperty(SparkMeter.OpKey))).getOrElse(trace.phase)
    e.stageIds.foreach(stageBucket.put(_, b))
    at(b).jobs += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageBucket.getOrDefault(e.stageInfo.stageId, trace.phase)).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = at(stageBucket.getOrDefault(e.stageId, trace.phase))
      t.tasks += 1
      t.taskMs += m.executorRunTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def total(keep: String => Boolean): SparkTotals = synchronized {
    val s = new SparkTotals
    byBucket.foreach { case (b, t) => if (keep(b)) s.add(t) }
    s
  }
}

object SparkMeter {
  /** Spark local property naming the op open on a client thread. */
  val OpKey = "perfbench.op"
}

/** Per-batch progress of the streaming queries (Structured Streaming's
  * `StreamingQueryProgress`), plus a callback the freshness meter uses. */
final class StreamMeter(trace: Trace, onProgress: StreamingQueryListener.QueryProgressEvent => Unit)
    extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    // batches of the timed region only: the first batch builds the
    // indexes in set-up
    if (trace.on && trace.phase == "run" && p.numInputRows > 0) {
      progress.add(p)
      val end = System.nanoTime()
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      trace.record("streaming.batch", end - dur * 1000000L, end)
    }
    onProgress(e)
  }
  def batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.toSeq
}
