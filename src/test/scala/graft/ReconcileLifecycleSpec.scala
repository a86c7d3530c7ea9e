package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.queries.{MultimodalOps, NearDupIndex}

/** Every frame the near-dup reconcile persists is released before it
  * returns — on success and when it throws — so a long-lived driver
  * (a streaming service, a SQL session) never accumulates cache
  * entries. Checked on the session's CacheManager directly, without
  * the `clearCache()` the Bench and Verify harnesses run per query. */
class ReconcileLifecycleSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(java.nio.file.Paths.get("target"), p)
      .toString + "/t"

  private def mor(name: String, key: Seq[String], stats: Seq[String]) =
    LakeTable.create(spark, tmp(name + "_"), TableProps(
      name, key, Some("ts"), Seq.empty, tableType = "mor",
      statsColumns = stats))

  private def assertNoCacheEntries(what: String): Unit =
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$what left cache entries behind")

  private val none = Seq.empty[Long].toDF("doc_id")

  test("text reconcile releases every cache entry (bootstrap + churn with postings)") {
    spark.catalog.clearCache()
    val sigs = mor("lc_tsigs", Seq("doc_id"), Seq("fp", "ts"))
    val pairs = mor("lc_tpairs", Seq("a", "b"), Seq.empty)
    val post = mor("lc_tpost", Seq("bk", "doc_id"), Seq("bk", "ts"))
    def text(g: Int) = (0 until 10).map(j => s"w${g}word$j token$j alpha$g")
      .mkString(" ")
    val seed = (0 until 6).flatMap(g => Seq(1, 2).map(i => (g * 10L + i, text(g))))
      .toDF("doc_id", "text")
    NearDupIndex.reconcile(seed, none, seed, sigs, pairs, 1L, postings = Some(post))
    assertNoCacheEntries("text bootstrap")
    sigs.cluster(Seq("fp"), targetFiles = 4)
    val churn = Seq((21L, "an unrelated replacement text for doc twenty one"),
      (31L, text(1))).toDF("doc_id", "text")
    val snap = seed.filter(!col("doc_id").isin(11L, 21L, 31L)).unionByName(churn)
    NearDupIndex.reconcile(churn, Seq(11L).toDF("doc_id"), snap, sigs, pairs, 2L,
      postings = Some(post))
    assertNoCacheEntries("text churn batch")
    assert(pairs.snapshot().count() > 0)
  }

  test("media reconcile releases every cache entry (bootstrap + churn with postings)") {
    spark.catalog.clearCache()
    val sigs = mor("lc_msigs", Seq("doc_id"), Seq("hash_hi", "hash_lo", "ts"))
    val pairs = mor("lc_mpairs", Seq("a", "b"), Seq.empty)
    val post = mor("lc_mpost", Seq("blk", "doc_id"), Seq("blk", "ts"))
    // tiny payloads hash to nothing: the dropped-doc path runs too
    val byteHash = (df: org.apache.spark.sql.DataFrame) => df
      .filter(length(col("payload")) > 1).select(col("doc_id"),
        xxhash64(col("payload")).as("hash_hi"),
        xxhash64(col("payload"), lit(1)).as("hash_lo"))
    val seed = (0 until 6).flatMap(g =>
      Seq(1, 2).map(i => (g * 10L + i, s"payload$g".getBytes("UTF-8"))))
      .toDF("doc_id", "payload")
    MultimodalOps.phashReconcile(seed, none, sigs, pairs, 1L, byteHash,
      postings = Some(post))
    assertNoCacheEntries("media bootstrap")
    sigs.cluster(Seq("hash_hi", "hash_lo"), targetFiles = 4)
    val churn = Seq((21L, "unique21".getBytes("UTF-8")), (31L, Array[Byte](1)))
      .toDF("doc_id", "payload")
    val st = MultimodalOps.phashReconcile(churn, Seq(11L).toDF("doc_id"),
      sigs, pairs, 2L, byteHash, postings = Some(post))
    assertNoCacheEntries("media churn batch")
    assert(st.hashed == 1 && st.dropped == 1, st.toString)
  }

  test("a reconcile that throws on a legacy store releases its cache entries") {
    spark.catalog.clearCache()
    // a store written before the persisted-rep contract: no fp, no rep
    val sigs = mor("lc_legacy", Seq("doc_id"), Seq.empty)
    sigs.upsert(Seq((1L, Seq("0:1:2"), 1L)).toDF("doc_id", "bands", "ts"))
    val pairs = mor("lc_lpairs", Seq("a", "b"), Seq.empty)
    val churn = Seq((2L, "some text that shingles fine here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      NearDupIndex.reconcile(churn, none, churn, sigs, pairs, 2L))
    assert(e.getMessage.contains("predates"), e.getMessage)
    assertNoCacheEntries("failed reconcile")
  }
}
