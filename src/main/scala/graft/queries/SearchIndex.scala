package graft.queries

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SubmitterFuture

import graft.core.{KeyGen, LakeTable}

/** The ONE fold algorithm behind the maintained BM25 search index —
  * shared by the `pipe6_incremental_bm25` gate (bootstrap and
  * increment passes) and the PropertySpec random-DML test, so the
  * DuckDB oracle and the property harness exercise the same code.
  *
  * State = three lake tables: POSTINGS keyed (doc_id, term) carrying
  * (n, len); DF stats keyed term; a one-row TOTALS table
  * (n_docs, tot_len). Each [[maintain]] call folds one batch of doc
  * churn (post-images + pre-images) in O(churn terms): a churned
  * doc's postings are one mixed tombstone+data commit, df and totals
  * are delta folds driven by the churn side — never a corpus recount
  * — and the three DISJOINT state writes run concurrently. */
private[graft] object SearchIndex {

  /** Tokens of the lowercased text — formatted from the ONE canonical
    * definition ([[TextOps.ToksExprFmt]]): the fold and the batch
    * oracle must tokenize byte-identically. */
  private val toksExpr = TextOps.ToksExprFmt.format("text")

  /** (doc_id, term, n, len) of a doc batch: len = total tokens of the
    * doc (equals the batch BM25's sum-of-n per doc), denormalized
    * onto every posting row so scoring needs no per-doc length join —
    * the doc's postings are rewritten wholesale on churn anyway. */
  def postingsOf(d: DataFrame): DataFrame = d
    .withColumn("toks", expr(toksExpr))
    .select(col("doc_id"), size(col("toks")).cast("long").as("len"),
      explode(col("toks")).as("term"))
    .groupBy("doc_id", "term", "len").agg(count(lit(1)).as("n"))
    .select("doc_id", "term", "n", "len")

  /** BM25 top-10 per query (queries = the distinct terms of docs
    * 0-4 in the index) scored from the MAINTAINED state with the
    * shared exact-arithmetic contract ([[TextOps.Bm25]]) — used by
    * the pipe6 (batch folds) and st5 (streaming service) gates, whose
    * outputs must both hash-equal the batch BM25 oracle.
    *
    * EAGER: the scoring runs inside this call and the returned frame
    * is the materialized top-k as a local relation (bounded by
    * contract at 10 rows × the ≤ 5 query docs). This is what lets the
    * internal postings cache unpersist deterministically on exit —
    * a long-lived driver calling this in a loop accumulates nothing —
    * instead of leaking a cache entry per call until some caller-side
    * clearCache. */
  def scoreTop10(post: LakeTable, stats: LakeTable, totals: LakeTable)
      : DataFrame = {
    // cached: the postings MOR merge feeds TWO subtrees of the scoring
    // query — the broadcast build of qt (docs 0-4's terms) and the
    // main contrib scan — and a filter on the doc_id DATA column
    // cannot push below the merge window (partitioned on _record_key),
    // so without the cache the full postings merge executes twice per
    // scoring read (guide §2.4: share one exchange). The broadcast
    // build materializes the cache; the main scan reads it.
    val postS = post.snapshot().select("doc_id", "term", "n", "len")
      .persist()
    try {
      val statsS = stats.snapshot().filter(col("df") > 0).select("term", "df")
      val totS = totals.snapshot().select(col("n_docs"),
        (col("tot_len").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
      val qt = postS.filter(col("doc_id") < 5)
        .select(col("doc_id").as("q_id"), col("term"))
      val contrib = postS.join(broadcast(qt), Seq("term"))
        .filter(col("doc_id") =!= col("q_id"))
        .join(statsS, "term")
        .crossJoin(broadcast(totS))
        .select(col("q_id"), col("doc_id"), TextOps.Bm25.microCol.as("micro"))
      val ranked = TextOps.Bm25.rankTopK(contrib)
      // bounded collect (≤ 50 rows by the top-10 × ≤ 5 queries
      // contract) → order-preserving local relation, so the postings
      // cache can be dropped before returning
      val rows = java.util.Arrays.asList(ranked.collect(): _*)
      post.spark.createDataFrame(rows, ranked.schema)
    } finally {
      postS.unpersist()
      ()
    }
  }

  /** Fold one churn batch into the index.
    *
    * @param after  post-image docs (doc_id, text) — inserts and the
    *               new text of updates
    * @param before pre-image docs of updated/deleted keys (empty on
    *               bootstrap)
    * @param ts     monotonic preCombine value for this batch
    * @param guard  per-table write wrapper. The df/totals folds are
    *               NON-idempotent (a replayed batch would
    *               double-increment), and the three writes are three
    *               commits — a crash can land between them. The
    *               streaming service passes a per-table
    *               [[graft.streaming.ExactlyOnce]] `runOnce` here, so
    *               each table independently skips a batch it already
    *               folded (tag recorded atomically with its commit)
    *               while tables missed by the crash apply it —
    *               convergent under crash-anywhere replay. The batch
    *               deltas derive ONLY from `after`/`before` (never
    *               from state), so a partial replay folds the same
    *               values the first attempt would have. Default: run
    *               directly, no tag (the batch gate's path).
    */
  def maintain(
      after: DataFrame,
      before: DataFrame,
      post: LakeTable,
      stats: LakeTable,
      totals: LakeTable,
      ts: Long,
      guard: (LakeTable, Option[String] => Unit) => Unit =
        (_, f) => f(None)): Unit = {
    val cached = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def cache(df: DataFrame) = { cached += df.persist(); df }
    // plans over the CURRENT state, pinned before the concurrent
    // writes below (snapshot() resolves its file list eagerly); the
    // stats fold reads its table inside its own future, which is that
    // table's only writer
    val totalsSnap = totals.snapshot()
    var writes: Seq[Future[Any]] = Seq.empty
    try {
      // tokenize each side ONCE into a cached frame: the postings
      // groupBy AND the totals scalar fold both read it — without the
      // cache the totals leg would either re-tokenize or aggregate
      // doc lengths back out of the exploded postings (a second
      // churn-sized groupBy(doc_id) shuffle)
      // docs whose text is NULL or tokenizes to nothing carry no
      // postings (explode emits no rows) and must not count in
      // n_docs/tot_len either — the oracle derives both from the
      // exploded relation. Filter ONCE here so the postings and
      // totals legs stay consistent (size(NULL) is NULL → dropped).
      val afterToks = cache(after
        .select(col("doc_id"), expr(toksExpr).as("toks"))
        .filter(size(col("toks")) > 0))
      val beforeToks = cache(before
        .select(col("doc_id"), expr(toksExpr).as("toks"))
        .filter(size(col("toks")) > 0))
      def postingsOfToks(t: DataFrame): DataFrame = t
        .select(col("doc_id"), size(col("toks")).cast("long").as("len"),
          explode(col("toks")).as("term"))
        .groupBy("doc_id", "term", "len").agg(count(lit(1)).as("n"))
        .select("doc_id", "term", "n", "len")
      val newPost = cache(postingsOfToks(afterToks))
      val oldPost = cache(postingsOfToks(beforeToks))
      // materialize BEFORE the concurrent writes: the write paths'
      // small-file sizing reads Catalyst stats (exact only for a
      // computed cache — an unmaterialized one falls back to the
      // corpus-scan estimate and emits one near-empty file per
      // partition), and the three futures would otherwise race to
      // compute the same blocks
      newPost.count(); oldPost.count()
      // the stats fold's write input, cached so ITS write is sized
      // from real stats too (the join against the stored dictionary
      // otherwise estimates at the product of its inputs)
      val dfDelta = cache(newPost
        .select(col("term"), lit(1L).as("s"))
        .unionByName(oldPost.select(col("term"), lit(-1L).as("s")))
        .groupBy("term").agg(sum("s").as("ddf"))
        .filter(col("ddf") =!= 0))
      // three DISJOINT state tables — write them concurrently. The
      // postings and stats batches are unique per key BY CONSTRUCTION
      // (groupBy on the key), so the write-side pre-combine window is
      // skipped (combine=false, Hudi's combine.before.upsert=false)
      writes = Seq(
        SubmitterFuture {
          guard(post, { tag =>
            post.upsertWithDeletes(newPost.withColumn("ts", lit(ts)),
              oldPost.select("doc_id", "term"), tag = tag, combine = false)
            ()
          })
        },
        SubmitterFuture {
          guard(stats, { tag =>
            // O(churn terms), NOT O(vocabulary): only terms whose
            // presence count changed are read and get a new version —
            // the delta side drives the join; unchanged dictionary rows
            // are never rewritten (preCombine keeps their stored
            // version at read time). Up to [[NearDupIndex.PruneLimit]]
            // delta terms the stored side is a KEY-PRUNED read (files
            // whose key bounds hold a delta term), re-filtered to those
            // terms as snapshotForKeys' contract requires; a larger
            // delta (a bootstrap or a rebuild) reads the whole snapshot
            val stored = if (!stats.schema.fieldNames.contains("term"))
              dfDelta.select(col("term"), col("ddf").as("df")).limit(0)
            else {
              val terms = dfDelta.select("term")
                .limit(NearDupIndex.PruneLimit + 1).collect().map(_.getString(0))
              if (terms.length > NearDupIndex.PruneLimit)
                stats.snapshot().select(col("term"), col("df"))
              else stats.snapshotForKeys(terms.flatMap(KeyGen.keyForLiteral).toSet)
                .filter(col("term").isin(terms.toSeq: _*))
                .select(col("term"), col("df"))
            }
            // persist + materialize so the upsert's small-file sizing
            // sees real stats (the join's Catalyst estimate is the
            // product of its inputs), then drop the cache — this
            // future is its only consumer
            val folded = dfDelta.join(stored, Seq("term"), "left")
              .select(col("term"),
                (coalesce(col("df"), lit(0L)) + col("ddf")).as("df"))
              .withColumn("ts", lit(ts)).persist()
            try {
              folded.count()
              stats.upsert(folded, tag = tag, combine = false)
            } finally folded.unpersist()
            ()
          })
        },
        SubmitterFuture {
          guard(totals, { tag =>
            // BOTH sides of the one-row fold resolve driver-side: the
            // stored side is one row at most (and a crossJoin against
            // it would emit ZERO rows on a freshly CREATE TABLEd
            // schema-only table: empty × delta = empty), and the delta
            // side is two scalars off the cached token frames — so the
            // committed frame is a literal local row, not a plan that
            // re-aggregates the churn inside the write job
            val cur =
              if (totalsSnap.columns.contains("n_docs"))
                totalsSnap.select(col("n_docs"), col("tot_len")).collect()
              else Array.empty[org.apache.spark.sql.Row]
            val (n0, l0) = cur.headOption
              .map(r => (r.getLong(0), r.getLong(1))).getOrElse((0L, 0L))
            val d = afterToks
              .select(lit(1L).as("s"), size(col("toks")).cast("long").as("len"))
              .unionByName(beforeToks.select(lit(-1L).as("s"),
                (-size(col("toks"))).cast("long").as("len")))
              .agg(coalesce(sum(col("s")), lit(0L)),
                coalesce(sum(col("len")), lit(0L))).head()
            val (dnd, dtl) = (d.getLong(0), d.getLong(1))
            val sp = after.sparkSession
            import sp.implicits._
            totals.upsert(
              Seq((0L, n0 + dnd, l0 + dtl, ts))
                .toDF("id", "n_docs", "tot_len", "ts"),
              tag = tag, combine = false)
            ()
          })
        })
      writes.foreach(Await.result(_, Duration.Inf))
      ()
    } finally {
      // on a failure the other writes may still be in flight — never
      // unpersist their inputs from under them
      writes.foreach(Await.ready(_, Duration.Inf))
      cached.foreach(_.unpersist())
    }
  }
}
