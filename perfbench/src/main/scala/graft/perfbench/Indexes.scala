package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{LakeTable, TableProps}
import graft.queries.{NearDupIndex, SearchIndex}

/** The maintained indexes of a docs corpus: the near-dup signature
  * store, verified pairs and band postings ([[NearDupIndex]]), and the
  * BM25 postings, df stats and totals ([[SearchIndex]]); all MOR lake
  * tables under `dir`, laid out as the engine's pipe4/pipe6 gates and
  * maintenance services create them. */
final class Indexes(spark: SparkSession, dir: String) {
  private def mor(name: String, key: Seq[String], stats: Seq[String] = Nil): LakeTable =
    LakeTable.create(spark, s"$dir/$name", TableProps(name, key, Some("ts"), Seq.empty,
      tableType = "mor", statsColumns = stats))
  val sigs: LakeTable = mor("sigs", Seq("doc_id"), Seq("fp", "ts"))
  val pairs: LakeTable = mor("pairs", Seq("a", "b"))
  val bands: LakeTable = mor("bands", Seq("bk", "doc_id"), Seq("bk", "ts"))
  val post: LakeTable = mor("post", Seq("doc_id", "term"))
  val stats: LakeTable = mor("stats", Seq("term"))
  val totals: LakeTable = mor("totals", Seq("id"))
  def tables: Seq[LakeTable] = Seq(sigs, pairs, bands, post, stats, totals)

  def top10(): DataFrame = SearchIndex.scoreTop10(post, stats, totals)

  /** What the check compares: pairs, postings, live df stats, totals
    * and, with `withTop10`, the BM25 top-10 scored from them, each as (rows,
    * hash sum). */
  def digest(withTop10: Boolean): Seq[(String, (Long, java.math.BigDecimal))] = Seq(
    "pairs" -> Tables.fingerprint(pairs.snapshot(), Seq("a", "b", "jaccard")),
    "postings" -> Tables.fingerprint(post.snapshot(), Seq("doc_id", "term", "n", "len")),
    "df" -> Tables.fingerprint(stats.snapshot().filter(col("df") > 0), Seq("term", "df")),
    "totals" -> Tables.fingerprint(totals.snapshot(), Seq("n_docs", "tot_len"))) ++
    (if (withTop10) Seq("top10" -> {
      val t = top10(); Tables.fingerprint(t, t.columns.toSeq)
    }) else Nil)
}

object Indexes {
  def docsFrame(spark: SparkSession, docs: Iterable[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toSeq.toDF("doc_id", "text")
  }

  /** Bootstrap `ix` from `corpus` in one pass: every doc is churn. The
    * near-dup and search indexes share no table; with `overlap` their
    * bootstraps run concurrently. */
  def bootstrap(spark: SparkSession, ix: Indexes, corpus: DataFrame, ts: Long,
      trace: Trace, overlap: Boolean = false): graft.core.SkipStats = {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val none = spark.emptyDataset[Long].toDF("doc_id")
    def search(): Unit = trace.span("queries.bm25_maintain")(SearchIndex.maintain(corpus,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), ix.post, ix.stats, ix.totals, ts))
    val bg = if (overlap) Some(Future(search())(ExecutionContext.global)) else None
    val st = trace.span("queries.reconcile")(NearDupIndex.reconcile(corpus, none, corpus,
      ix.sigs, ix.pairs, ts, postings = Some(ix.bands)))
    bg match {
      case Some(f) => Await.result(f, Duration.Inf)
      case None => search()
    }
    st
  }

  /** The maintained indexes equal a one-shot bootstrap over the final
    * corpus. Prints every mismatching part. */
  def check(spark: SparkSession, ix: Indexes, corpus: Iterable[(Long, String)],
      dir: String, withTop10: Boolean): Boolean = {
    val fresh = new Indexes(spark, dir)
    val df = docsFrame(spark, corpus).persist()
    try bootstrap(spark, fresh, df, 1L, new Trace(false), overlap = true)
    finally { df.unpersist(); () }
    val (got, want) = (ix.digest(withTop10), fresh.digest(withTop10))
    got.zip(want).foreach { case ((n, g), (_, w)) =>
      if (g != w) System.err.println(s"[perfbench] index $n: maintained $g != one-shot $w")
    }
    got == want
  }
}
