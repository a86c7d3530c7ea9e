package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.core.{LakeTable, TableProps}
import graft.queries.{NearDupIndex, SearchIndex}

/** `curation_batch`: one client runs the dedup gates over a seeded
  * corpus, bootstraps the maintained indexes, then applies churn
  * increments, each followed by a BM25 top-10 read, until the time is
  * up. */
final class CurationBatch(run: Run) {
  import run.{spark, trace}
  import spark.implicits._

  private val seed = run.o.seed
  private val rng = new Rng(Rng.mix(seed ^ 0xc0deL))
  private val Gates = Seq("dedup1_exact", "dedup2_minhash_lsh", "dedup5_prefix_jaccard")

  /** Writes documents.parquet and embeddings.parquet (the testdata
    * schema) under `dir`. */
  private def writeCorpus(dir: String, corpus: Seq[(Long, String)]): Unit = {
    val s = seed
    corpus.map { case (id, t) =>
      val (lang, src) = Gen.docMeta(s, id)
      (id, t, lang, src, t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    spark.range(0, 2000).map { v =>
      val h = Rng.hash(s, v, 6000)
      (v.longValue, Array.tabulate(64)(j =>
        ((Rng.hash(s, h, j) >>> 40) / (1L << 24).toDouble - 0.5).toFloat / 3f),
        Rng.pick(h, 10))
    }.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
  }

  def execute(): Outcome = {
    val work = run.o.work
    val corpus = mutable.Map.empty[Long, String] ++ Gen.corpus(seed)
    val dir = s"$work/corpus"
    writeCorpus(dir, corpus.toSeq.sortBy(_._1))
    val docs = LakeTable.create(spark, s"$work/docs", TableProps("docs", Seq("doc_id"),
      Some("ts"), Seq.empty))
    val ix = new Indexes(spark, s"$work/index")
    val meter = new Tables.WriteMeter(() => docs +: ix.tables)
    var docBytes = 0.0
    var nextId = corpus.keys.max + 1
    var skipped = 0.0
    var considered = 0.0
    def traced(rows: Long): Unit = if (trace.on) {
      trace.count("core.bytes_written", meter.collect().toDouble)
      trace.count("core.input_bytes", rows * docBytes)
    }
    def score(): Unit = run.read("score") {
      trace.span("queries.score")(ix.top10().collect().length)
    }
    if (trace.on) meter.reset()

    run.startClock()
    for (g <- Gates) run.read(g) {
      trace.span(s"queries.dedup.$g") {
        graft.SparkEntry.queries(g)(spark, dir).write.format("noop").mode("overwrite").save()
      }
      run.rows.addAndGet(corpus.size.toLong)
    }
    var prev = ""
    run.write("bootstrap") {
      val df = Indexes.docsFrame(spark, corpus).persist()
      try {
        prev = trace.span("core.upsert")(docs.upsert(df.withColumn("ts", lit(1L))))
        val st = Indexes.bootstrap(spark, ix, df, 1L, trace)
        skipped += st.skipped; considered += st.skipped + st.kept
      } finally { df.unpersist(); () }
      run.rows.addAndGet(corpus.size.toLong)
      docBytes = Tables.liveBytes(docs).toDouble / corpus.size
      traced(corpus.size.toLong)
    }
    score()
    for (ts <- 2L to 1L + run.units(12.0)) {
      val (up, del) = Gen.churn(rng, seed, corpus, 0.05, () => { nextId += 1; nextId - 1 })
      val start = System.nanoTime()
      val ok = run.write("increment") {
        val commit = trace.span("core.upsert")(docs.upsertWithDeletes(
          up.toDF("doc_id", "text").withColumn("ts", lit(ts)), del.toDF("doc_id")))
        val ch = docs.cdc(prev).persist()
        prev = commit
        try {
          val (upserted, deleted) = LakeTable.cdcUpsertsAndDeletes(ch, "doc_id", Seq("text"))
          val snap = docs.snapshot().select("doc_id", "text")
          val lookup = (ids: Seq[Long]) =>
            docs.snapshotForKeys(ids.map(_.toString).toSet).select("doc_id", "text")
          val st = trace.span("queries.reconcile")(NearDupIndex.reconcile(upserted, deleted,
            snap, ix.sigs, ix.pairs, ts, postings = Some(ix.bands), docsLookup = Some(lookup)))
          skipped += st.skipped; considered += st.skipped + st.kept
          val op = col(LakeTable.ChangeOpCol)
          val bef = col(LakeTable.BeforeImageCol)
          trace.span("queries.bm25_maintain")(SearchIndex.maintain(
            ch.filter(op =!= "d").select("doc_id", "text"),
            ch.filter(op.isin("u", "d")).select(bef.getField("doc_id").as("doc_id"),
              bef.getField("text").as("text")),
            ix.post, ix.stats, ix.totals, ts))
        } finally { ch.unpersist(); () }
        run.rows.addAndGet((up.size + del.size).toLong)
        traced((up.size + del.size).toLong)
      }
      if (ok.isDefined) {
        score()
        run.fresh.add((System.nanoTime() - start) / 1e6)
      }
    }
    run.stopClock()

    val docsOk = docs.snapshot().select("doc_id", "text").as[(Long, String)].collect().toMap ==
      corpus.toMap
    if (!docsOk) System.err.println("[perfbench] docs table != generated corpus")
    val correct = docsOk &&
      Indexes.check(spark, ix, corpus, s"$work/oneshot", withTop10 = true)
    val tables = docs +: ix.tables
    val (commits, liveFiles, deltaFiles) = Tables.liveStats(tables)
    Outcome(correct, Tables.spaceAmp(spark, tables, s"$work/plain"), Map(
      "core.commits" -> commits, "core.live_files" -> liveFiles,
      "core.delta_files" -> deltaFiles,
      "queries.reconcile_skip_ratio" -> (if (considered > 0) skipped / considered else 0.0),
      "queries.pairs" -> ix.pairs.snapshot().count().toDouble))
  }
}
