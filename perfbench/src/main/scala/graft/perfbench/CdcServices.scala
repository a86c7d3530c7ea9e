package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.core.{LakeTable, TableProps}
import graft.streaming.{NearDupMaintenance, SearchIndexMaintenance}

/** `cdc_services`: an open loop. A generator thread commits seeded
  * churn to a MOR docs table on a fixed schedule; the engine's
  * SearchIndexMaintenance and NearDupMaintenance services fold the CDC
  * feed into their indexes; a reader thread reads three docs of each
  * commit back from the docs table; a compactor thread compacts the
  * services' MOR state tables under OCC every few commits (the st6
  * race). */
final class CdcServices(run: Run) {
  import run.{spark, trace}
  import spark.implicits._

  private val seed = run.o.seed
  private val rng = new Rng(Rng.mix(seed ^ 0xcdcL))
  /** One commit per period, 0.5% of the corpus each; a run makes
    * round(seconds / 2) of them. */
  private val PeriodMs = 2000L
  private val ChurnShare = 0.005
  private val CompactEvery = 4
  private val DrainTimeoutMs = 120000L

  /** commit instant -> the time it was due, until both services fold it */
  private val pending = new ConcurrentSkipListMap[String, java.lang.Long]()
  /** streaming query id -> end offset (docs commit instant) of its last batch */
  private val frontier = new ConcurrentHashMap[java.util.UUID, String]()
  @volatile private var services = 0
  @volatile private var lastFoldNs = 0L
  @volatile private var backlogMax = 0
  private val Instant = "\"instant\"\\s*:\\s*\"(\\d+)\"".r

  private def onProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    e.progress.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(Instant.findFirstMatchIn(_)).foreach { m =>
        frontier.put(e.progress.id, m.group(1)); resolve()
      }

  /** Records a freshness sample for every commit both services have
    * folded. */
  private def resolve(): Unit = synchronized {
    if (frontier.size >= services && services > 0) {
      val f = frontier.values.asScala.min
      val now = System.nanoTime()
      while (!pending.isEmpty && pending.firstKey <= f) {
        val e = pending.pollFirstEntry()
        run.fresh.add((now - e.getValue) / 1e6)
        lastFoldNs = now
      }
    }
  }

  def execute(): Outcome = {
    val work = run.o.work
    val corpus = mutable.Map.empty[Long, String] ++ Gen.corpus(seed)
    val docsPath = s"$work/docs"
    val docs = LakeTable.create(spark, docsPath, TableProps("docs", Seq("doc_id"), Some("ts"),
      Seq.empty, tableType = "mor"))
    docs.upsert(corpus.toSeq.toDF("doc_id", "text").withColumn("ts", lit(0L)))
    val seeded = docs.timeline.latestInstant().get
    // the services start from commit 0: their first batch replays the
    // whole corpus as inserts and builds the indexes, in set-up
    val ix = new Indexes(spark, s"$work/index")
    val listener = new StreamMeter(trace, onProgress)
    spark.streams.addListener(listener)
    val queries: Seq[StreamingQuery] = Seq(
      SearchIndexMaintenance.start(spark, docsPath, ix.post.basePath, ix.stats.basePath,
        ix.totals.basePath, s"$work/ckpt_search"),
      NearDupMaintenance.start(spark, docsPath, ix.sigs.basePath, ix.pairs.basePath,
        s"$work/ckpt_neardup", postingsPath = Some(ix.bands.basePath)))
    services = queries.size
    try {
      awaitFolded(queries, seeded)
      var nextId = corpus.keys.max + 1
      /** (doc id, ts) -> the doc's text as of the commit stamped ts, or
        * None if that commit deleted it */
      val versions = new ConcurrentHashMap[(Long, Long), Option[String]]()
      def churn(ts: Long): (Seq[(Long, String)], Seq[Long]) = {
        val (up, del) = Gen.churn(rng, seed, corpus, ChurnShare, () => { nextId += 1; nextId - 1 })
        up.foreach { case (id, t) => versions.put((id, ts), Some(t)) }
        del.foreach(id => versions.put((id, ts), None))
        (up, del)
      }
      def commit(up: Seq[(Long, String)], del: Seq[Long], ts: Long): String =
        docs.upsertWithDeletes(up.toDF("doc_id", "text").withColumn("ts", lit(ts)),
          del.toDF("doc_id"))
      /** Reads doc `id` back: it must show the version committed at `ts`
        * or a later one (the generator runs ahead of the reader). */
      def readBack(id: Long, ts: Long, tr: Trace): Unit = {
        val got = tr.span("core.snapshot_plan")(docs.snapshotForKeys(Set(id.toString)))
        val rows = tr.span("core.read_exec")(got.filter(col("doc_id") === id)
          .select("text", "ts").as[(String, Long)].collect())
        val ok = rows match {
          case Array((text, v)) => v >= ts && versions.get((id, v)) == Some(text)
          case Array() => versions.asScala.exists { case ((i, v), x) => i == id && v >= ts && x.isEmpty }
          case _ => false
        }
        require(ok, s"doc $id (written at ts $ts) read back ${rows.toSeq}")
      }
      /** Compacts the n-th state table (in turn) under OCC; returns how
        * many times the compaction ran and whether it committed. */
      def compact(n: Int): (Int, Boolean) = {
        val w = LakeTable.load(spark, ix.tables(n % ix.tables.size).basePath)
        var calls = 0
        val c = w.withOcc() { calls += 1; w.compact() }
        (calls, c.isDefined)
      }

      // warm-up: read-backs and a compaction, so the timed ops pay no
      // first-use costs
      corpus.keys.toSeq.sorted.take(3).foreach { id =>
        versions.put((id, 0L), Some(corpus(id))); readBack(id, 0L, new Trace(false))
      }
      compact(ix.tables.size - 1)

      val compactions = new LinkedBlockingQueue[Option[Int]]()
      val readBacks = new LinkedBlockingQueue[Option[(Long, Seq[Long])]]()
      val meter = new Tables.WriteMeter(() => docs +: ix.tables)
      val docBytes = Tables.liveBytes(docs).toDouble / corpus.size
      if (trace.on) meter.reset()
      run.startClock()
      def generate(): Unit = {
        var k = 0
        var late = 0.0
        while (k < run.units(PeriodMs / 1000.0)) {
          val due = run.t0Ns + k * PeriodMs * 1000000L
          val ts = k + 1L
          val (up, del) = churn(ts)
          val wait = due - System.nanoTime()
          if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
          late = math.max(late, (System.nanoTime() - due) / 1e6)
          run.write("commit", dueNs = due) {
            val c = trace.span("core.upsert")(commit(up, del, ts))
            pending.put(c, due)
            backlogMax = math.max(backlogMax, pending.size)
            run.rows.addAndGet((up.size + del.size).toLong)
          }
          resolve()
          readBacks.put(Some(ts -> up.take(3).map(_._1)))
          k += 1
          if (k % CompactEvery == 0) compactions.put(Some(k / CompactEvery))
        }
        trace.count("streaming.gen_late_ms", late)
      }
      val generator = thread("generator") {
        try generate() finally { compactions.put(None); readBacks.put(None) }
      }
      // the client reads three of the docs each commit wrote back from
      // the docs table while the services work on it
      val reader = thread("reader") {
        var next = readBacks.take()
        while (next.isDefined) {
          val (ts, ids) = next.get
          ids.foreach(id => run.read("read_back")(readBack(id, ts, trace)))
          next = readBacks.take()
        }
      }
      val compactor = thread("compactor") {
        var next = compactions.take()
        while (next.isDefined) {
          run.service("compact")((c: Boolean) => c) {
            val (calls, committed) = trace.span("core.compact")(compact(next.get))
            trace.count("core.occ_retries", calls - 1)
            committed
          }
          next = compactions.take()
        }
      }
      generator.join(); reader.join(); compactor.join()
      val clientsDoneNs = System.nanoTime()
      val drainBy = System.nanoTime() + DrainTimeoutMs * 1000000L
      while (!pending.isEmpty && System.nanoTime() < drainBy &&
        queries.forall(_.exception.isEmpty)) Thread.sleep(10)
      run.stopClock()
      if (pending.isEmpty) run.t1Ns = math.max(lastFoldNs, clientsDoneNs)
      if (!pending.isEmpty) System.err.println(s"[perfbench] ${pending.size} commits never folded")
      queries.foreach(_.exception.foreach(e => System.err.println(s"[perfbench] service failed: $e")))
      val drained = pending.isEmpty && queries.forall(_.exception.isEmpty)
      queries.foreach(_.stop())
      spark.streams.removeListener(listener)
      if (trace.on) {
        trace.count("core.bytes_written", meter.collect().toDouble)
        trace.count("core.input_bytes", run.rows.get * docBytes)
      }

      val docsOk = docs.snapshot().select("doc_id", "text").as[(Long, String)].collect().toMap ==
        corpus.toMap
      if (!docsOk) System.err.println("[perfbench] docs table != generated churn fold")
      val correct = drained && docsOk &&
        Indexes.check(spark, ix, corpus, s"$work/oneshot", withTop10 = false)
      val batches = listener.batches
      def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
        Stats.median(batches.map(f))
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, ks: String*) =
        ks.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
      val tables = docs +: ix.tables
      val (commits, liveFiles, deltaFiles) = Tables.liveStats(tables)
      Outcome(correct, Tables.spaceAmp(spark, tables, s"$work/plain"), Map(
        "core.commits" -> commits, "core.live_files" -> liveFiles,
        "core.delta_files" -> deltaFiles,
        "queries.pairs" -> ix.pairs.snapshot().count().toDouble,
        "streaming.batches" -> batches.size.toDouble,
        "streaming.batch_ms" -> med(dur(_, "triggerExecution")),
        "streaming.offset_ms" -> med(dur(_, "latestOffset", "getBatch")),
        "streaming.addbatch_ms" -> med(dur(_, "addBatch")),
        "streaming.commit_ms" -> med(dur(_, "walCommit", "commitOffsets")),
        "streaming.rows_per_batch" -> med(_.numInputRows.toDouble),
        "streaming.backlog_max" -> backlogMax.toDouble,
        "streaming.gen_late_ms" -> trace.counter("streaming.gen_late_ms")))
    } finally queries.foreach(q => if (q.isActive) q.stop())
  }

  /** Waits until both services' progress shows `instant` folded. */
  private def awaitFolded(queries: Seq[StreamingQuery], instant: String): Unit = {
    val by = System.nanoTime() + DrainTimeoutMs * 1000000L
    def folded = frontier.size >= queries.size && frontier.values.asScala.min >= instant
    while (!folded && System.nanoTime() < by && queries.forall(_.exception.isEmpty))
      Thread.sleep(10)
    queries.foreach(_.exception.foreach(e => throw e))
    require(folded, s"the services did not fold commit $instant within $DrainTimeoutMs ms")
  }

  /** A client thread; anything it throws outside a timed op fails the
    * run like a failed op. */
  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => try body catch {
      case e: Throwable => run.fail(name, e)
    }, s"perfbench-$name")
    t.setDaemon(true)
    t.start()
    t
  }
}
