package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** MOR table type (SURVEY §2.10 ST6, TestBatchMOR / TestStreamingMOR):
  * delta-append upserts, merge-on-read snapshots, tombstone deletes,
  * inline + explicit compaction, read-optimized SQL view. */
class MorSpec extends AnyFunSuite {
  import TestSpark.{spark, tmpPath}
  import spark.implicits._

  private def morProps(compactEvery: Int = 0) = TableProps(
    "mor_t", Seq("id"), Some("ts"), Seq("dt"),
    tableType = "mor", compactDeltaCommits = compactEvery)

  private def rows(t: LakeTable): Set[(Int, String, Long)] =
    t.snapshot().select("id", "v", "ts").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet

  test("delta upserts merge on read; no files are rewritten") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d1")).toDF("id", "v", "ts", "dt"))
    t.upsert(Seq((1, "a2", 2L, "d1"), (3, "c", 1L, "d1")).toDF("id", "v", "ts", "dt"))
    assert(rows(t) == Set((1, "a2", 2L), (2, "b", 1L), (3, "c", 1L)))
    val cs = t.timeline.commits()
    assert(cs.forall(_.action == "deltacommit"))
    assert(cs.forall(_.removed.isEmpty), "MOR upserts must not rewrite files")
  }

  test("tombstone delete is honored by the merged view; compaction folds it") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d1")).toDF("id", "v", "ts", "dt"))
    t.delete(Seq((1, "d1")).toDF("id", "dt"))
    assert(rows(t) == Set((2, "b", 1L)))
    // delete then re-insert: later commit wins
    t.upsert(Seq((1, "back", 3L, "d1")).toDF("id", "v", "ts", "dt"))
    assert(rows(t) == Set((1, "back", 3L), (2, "b", 1L)))
    val c = t.compact().get
    assert(rows(t) == Set((1, "back", 3L), (2, "b", 1L)))
    // after compaction only the base files are live
    val live = t.timeline.liveFiles(None)
    assert(live.forall(_.instant == c))
  }

  test("predicate DML on MOR appends deltas; no base or delta file is rewritten") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    // base + one delta per partition
    t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d2"), (3, "c", 1L, "d3"))
      .toDF("id", "v", "ts", "dt"))
    t.upsert(Seq((1, "a2", 2L, "d1"), (2, "b2", 2L, "d2"), (3, "c2", 2L, "d3"))
      .toDF("id", "v", "ts", "dt"))
    val before = t.timeline.liveFiles(None).map(_.path).toSet
    assert(t.timeline.liveFiles(None).filter(_.delta)
      .map(_.partition).toSet == Set("dt=d1", "dt=d2", "dt=d3"))
    // UPDATE is an O(matched rows) DELTA append: every pre-existing
    // file (bases AND other partitions' deltas) survives byte-for-byte
    t.updateWhere(col("dt") === "d1" && col("id") === 1,
      Map("v" -> lit("a3")))
    val afterU = t.timeline.liveFiles(None)
    assert(before.subsetOf(afterU.map(_.path).toSet),
      s"predicate UPDATE rewrote files: ${before.diff(afterU.map(_.path).toSet)}")
    val uCommit = t.timeline.commits().last
    assert(uCommit.action == "deltacommit" && uCommit.removed.isEmpty,
      "predicate UPDATE on MOR must be a pure delta commit")
    assert(afterU.exists(f =>
      f.delta && f.partition == "dt=d1" && !before.contains(f.path)),
      "the update must land as a new delta file in the touched partition")
    // and it updated the CURRENT merged version (ts=2), not the stale one
    assert(rows(t) == Set((1, "a3", 2L), (2, "b2", 2L), (3, "c2", 2L)))
    // DELETE likewise: a tombstone delta, nothing rewritten
    val before2 = t.timeline.liveFiles(None).map(_.path).toSet
    t.deleteWhere(col("dt") === "d2")
    val afterD = t.timeline.liveFiles(None)
    assert(before2.subsetOf(afterD.map(_.path).toSet),
      "predicate DELETE on MOR must not rewrite any file")
    val dCommit = t.timeline.commits().last
    assert(dCommit.action == "deltacommit" && dCommit.removed.isEmpty)
    assert(rows(t) == Set((1, "a3", 2L), (3, "c2", 2L)))
    // stale-version safety: matching is decided on merged winners, and
    // the superseded version can never resurface
    t.updateWhere(col("id") === 3, Map("v" -> lit("c3")))
    assert(rows(t) == Set((1, "a3", 2L), (3, "c3", 2L)))
    // a predicate matching ONLY a stale version must be a no-op:
    // v='c2' is id=3's superseded value (current is 'c3')
    t.deleteWhere(col("v") === "c2")
    assert(rows(t) == Set((1, "a3", 2L), (3, "c3", 2L)))
  }

  test("UPDATE refuses to modify primary-key or partition columns") {
    // Hudi semantics: on MOR the new version would land under a NEW
    // (key, partition) leaving the old row alive; on COW the rewrite
    // would keep the old physical placement. MERGE is the
    // partition-migrating path.
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    t.upsert(Seq((1, "a", 1L, "d1")).toDF("id", "v", "ts", "dt"))
    intercept[IllegalArgumentException] {
      t.updateWhere(col("id") === 1, Map("dt" -> lit("d2")))
    }
    intercept[IllegalArgumentException] {
      t.updateWhere(col("id") === 1, Map("id" -> lit(9)))
    }
    assert(rows(t) == Set((1, "a", 1L)))
  }

  test("near-dup reconcile survives a delete-only first batch on a fresh store") {
    // the signature store's only prior write being a tombstone delete
    // leaves schema {doc_id} with zero live rows — the next batch must
    // take the bootstrap branch, not select a missing bands column
    import graft.queries.NearDupIndex
    val sigs = LakeTable.create(spark, tmpPath("ndx_sigs_"), TableProps(
      "sigs", Seq("doc_id"), Some("ts"), Seq.empty, tableType = "mor"))
    val pairs = LakeTable.create(spark, tmpPath("ndx_pairs_"), TableProps(
      "pairs", Seq("a", "b"), Some("ts"), Seq.empty, tableType = "mor"))
    val famA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq((1L, famA), (2L, famA + " extra")).toDF("doc_id", "text")
    // batch 1: deletes only (doc 9 never existed — still a tombstone)
    NearDupIndex.reconcile(docs.limit(0), Seq(9L).toDF("doc_id"),
      docs.limit(0), sigs, pairs, 1L)
    // batch 2: real churn — must bootstrap cleanly and find the pair
    NearDupIndex.reconcile(docs, Seq.empty[Long].toDF("doc_id"),
      docs, sigs, pairs, 2L)
    assert(pairs.snapshot().select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("time travel to a pre-compaction instant merges that era's deltas") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d1")).toDF("id", "v", "ts", "dt"))
    // delta update + tombstone, then a compaction and a later update:
    // as-of the pre-compaction instant the read must serve the
    // DELTA-MERGED state of that era (a2 wins, key 2 deleted), not the
    // read-optimized (base-only) view and not any post-asOf state
    val preCompact = t.delete(Seq((2, "d1")).toDF("id", "dt"))
    t.upsert(Seq((1, "a2", 2L, "d1")).toDF("id", "v", "ts", "dt"))
    t.compact()
    t.upsert(Seq((1, "a3", 3L, "d1")).toDF("id", "v", "ts", "dt"))
    assert(t.snapshot(Some(preCompact)).select("id", "v", "ts").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet ==
      Set((1, "a", 1L)))
    assert(rows(t) == Set((1, "a3", 3L)))
  }

  test("SQL row-level DML on MOR lands as delta commits; no file is rewritten") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", "target/graft_warehouse_test")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.morscope")
    spark.sql("""CREATE TABLE graft.db.morscope (id INT, v STRING, ts BIGINT,
      dt STRING) USING graft PARTITIONED BY (dt)
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = 'mor')""")
    val wh = "target/graft_warehouse_test/db/morscope"
    val t = LakeTable.load(spark, wh)
    t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d2"), (3, "c", 1L, "d3"))
      .toDF("id", "v", "ts", "dt"))
    t.upsert(Seq((1, "a2", 2L, "d1"), (2, "b2", 2L, "d2"), (3, "c2", 2L, "d3"))
      .toDF("id", "v", "ts", "dt"))
    val before = t.timeline.liveFiles(None).map(_.path).toSet
    assert(t.timeline.liveFiles(None).filter(_.delta)
      .map(_.partition).toSet == Set("dt=d1", "dt=d2", "dt=d3"))
    // the SQL statement reads through the in-query merged view and
    // appends ONE mixed delta commit — every pre-existing file survives
    spark.sql("UPDATE graft.db.morscope SET v = 'a3' WHERE dt = 'd1' AND id = 1")
    val after = t.timeline.liveFiles(None)
    assert(before.subsetOf(after.map(_.path).toSet),
      "SQL UPDATE on MOR rewrote files")
    val uCommit = t.timeline.commits().last
    assert(uCommit.action == "deltacommit" && uCommit.removed.isEmpty,
      s"SQL UPDATE on MOR must be a pure delta commit, was ${uCommit.action}")
    // correctness via the path-API merged read (a catalog SELECT would
    // compact-on-read and erase the evidence this test is about)
    assert(t.snapshot().select("id", "v").as[(Int, String)].collect().toSet ==
      Set((1, "a3"), (2, "b2"), (3, "c2")))
    // DELETE likewise: a tombstone delta, nothing rewritten
    val before2 = t.timeline.liveFiles(None).map(_.path).toSet
    spark.sql("DELETE FROM graft.db.morscope WHERE dt = 'd2'")
    val after2 = t.timeline.liveFiles(None)
    assert(before2.subsetOf(after2.map(_.path).toSet),
      "SQL DELETE on MOR rewrote files")
    assert(t.snapshot().select("id", "v").as[(Int, String)].collect().toSet ==
      Set((1, "a3"), (3, "c2")))
  }

  test("merged read-only view prunes partition filters below the merge") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", "target/graft_warehouse_test")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.morprune")
    spark.sql("""CREATE TABLE graft.db.morprune (id INT, v STRING, ts BIGINT,
      dt STRING) USING graft PARTITIONED BY (dt)
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = 'mor')""")
    val t = LakeTable.load(spark, "target/graft_warehouse_test/db/morprune")
    t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d2")).toDF("id", "v", "ts", "dt"))
    t.upsert(Seq((1, "a2", 2L, "d1"), (2, "b2", 2L, "d2")).toDF("id", "v", "ts", "dt"))
    spark.conf.set("spark.graft.mor.compactOnRead", "false")
    try {
      // partition-equality filter: prunes to d1's files, merge still right
      assert(spark.sql(
        "SELECT v FROM graft.db.morprune WHERE dt = 'd1'")
        .as[String].collect().toSeq == Seq("a2"))
      // IN filter over both partitions
      assert(spark.sql(
        "SELECT v FROM graft.db.morprune WHERE dt IN ('d1','d2') ORDER BY v")
        .as[String].collect().toSeq == Seq("a2", "b2"))
      // data-column filter must NOT prune below the merge: v='b' only
      // matches the OLD version of id=2 — the merged result is empty
      assert(spark.sql(
        "SELECT v FROM graft.db.morprune WHERE v = 'b'").count() == 0)
      // deltas untouched: the read-only view never compacted
      assert(t.timeline.liveFiles(None).exists(_.delta))
    } finally spark.conf.set("spark.graft.mor.compactOnRead", "true")
    // and the pruning is REAL, not just correct-by-re-filtering: the
    // builder's pruned snapshot contains only the matching partition
    import org.apache.spark.sql.sources.{EqualTo, In, StringContains}
    val builder = new graft.sql.GraftMergedScanBuilder(spark, t,
      t.snapshot().schema, null)
    def partsFor(fs: org.apache.spark.sql.sources.Filter*): Set[String] =
      builder.prunedSnapshot(fs.toArray)
        .select("dt").distinct().as[String].collect().toSet
    assert(partsFor(EqualTo("dt", "d1")) == Set("d1"))
    assert(partsFor(In("dt", Array("d2"))) == Set("d2"))
    // non-partition and non-prunable filters read everything
    assert(partsFor(EqualTo("v", "a2")) == Set("d1", "d2"))
    assert(partsFor(StringContains("dt", "d")) == Set("d1", "d2"))
  }

  test("keyed merge on MOR is a delta append; no file group is touched") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d2")).toDF("id", "v", "ts", "dt"))
    t.upsert(Seq((1, "a2", 2L, "d1"), (2, "b2", 2L, "d2")).toDF("id", "v", "ts", "dt"))
    val before = t.timeline.liveFiles(None).map(_.path).toSet
    // MERGE touching only id=1 (lives in d1)
    t.merge(Seq((1, "a3", 3L, "d1", "UPDATE")).toDF("id", "v", "ts", "dt", "op"),
      matchedUpdate = Some(col("op") === "UPDATE"))
    val after = t.timeline.liveFiles(None)
    assert(before.subsetOf(after.map(_.path).toSet),
      "MOR merge must not rewrite or compact any file")
    val c = t.timeline.commits().last
    assert(c.action == "deltacommit" && c.removed.isEmpty)
    assert(rows(t) == Set((1, "a3", 3L), (2, "b2", 2L)))
    // DELETE clause: tombstones the stored row; partition MIGRATION:
    // an update arriving under a new partition value tombstones the
    // old (key, partition) and inserts the new — both as deltas
    t.merge(Seq((2, "x", 4L, "d2", "DELETE"), (1, "a4", 4L, "d9", "UPDATE"))
      .toDF("id", "v", "ts", "dt", "op"),
      matchedUpdate = Some(col("op") === "UPDATE"),
      matchedDelete = Some(col("op") === "DELETE"))
    assert(t.timeline.commits().last.removed.isEmpty)
    assert(t.snapshot().select("id", "v", "ts", "dt").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet == Set((1, "a4", 4L, "d9")))
  }

  test("inline compaction after N delta commits (compaction.delta_commits)") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps(compactEvery = 2))
    t.upsert(Seq((1, "a", 1L, "d1")).toDF("id", "v", "ts", "dt"))
    assert(t.timeline.commits().map(_.action) == Seq("deltacommit"))
    t.upsert(Seq((2, "b", 1L, "d1")).toDF("id", "v", "ts", "dt"))
    // 2nd delta commit triggered an inline compaction commit
    assert(t.timeline.commits().map(_.action) ==
      Seq("deltacommit", "deltacommit", "commit"))
    assert(rows(t) == Set((1, "a", 1L), (2, "b", 1L)))
  }

  test("per-payload ordering: larger preCombine wins over later commit") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    t.upsert(Seq((1, "fresh", 5L, "d1")).toDF("id", "v", "ts", "dt"))
    // late-arriving update with a SMALLER ordering value must lose
    t.upsert(Seq((1, "stale", 3L, "d1")).toDF("id", "v", "ts", "dt"))
    assert(rows(t) == Set((1, "fresh", 5L)))
    // equal ordering: later commit wins (incoming-wins tie-break)
    t.upsert(Seq((1, "tie", 5L, "d1")).toDF("id", "v", "ts", "dt"))
    assert(rows(t) == Set((1, "tie", 5L)))
  }

  test("ordered tombstone: late delete with lower preCombine loses") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    t.upsert(Seq((1, "a", 5L, "d1"), (2, "b", 5L, "d1")).toDF("id", "v", "ts", "dt"))
    // delete carrying ts=3 < stored 5: ignored (DefaultHoodieRecordPayload)
    t.delete(Seq((1, 3L, "d1")).toDF("id", "ts", "dt"))
    assert(rows(t) == Set((1, "a", 5L), (2, "b", 5L)))
    // delete carrying ts=9 > stored 5: applies
    t.delete(Seq((2, 9L, "d1")).toDF("id", "ts", "dt"))
    assert(rows(t) == Set((1, "a", 5L)))
    // key-only delete (no ordering value) is unconditional
    t.delete(Seq((1, "d1")).toDF("id", "dt"))
    assert(rows(t) == Set.empty[(Int, String, Long)])
  }

  test("snapshotWhere on MOR merges on read and drops tombstones") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d1"), (3, "c", 1L, "d2"))
      .toDF("id", "v", "ts", "dt"))
    t.upsert(Seq((1, "a2", 2L, "d1")).toDF("id", "v", "ts", "dt"))
    t.delete(Seq((2, "d1")).toDF("id", "dt"))
    val pruned = t.snapshotWhere(_ == "dt=d1")
      .select("id", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // one merged row per key, tombstone dropped, d2 pruned
    assert(pruned == Set((1, "a2")))
  }

  test("incremental read returns the delta rows of the range") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    val c1 = t.upsert(Seq((1, "a", 1L, "d1")).toDF("id", "v", "ts", "dt"))
    t.upsert(Seq((1, "a2", 2L, "d1"), (2, "b", 1L, "d1")).toDF("id", "v", "ts", "dt"))
    val inc = t.incremental(c1).select("id", "v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(inc == Set((1, "a2"), (2, "b")))
  }

  test("streaming ingest into MOR with inline compaction (TestStreamingMOR shape)") {
    val path = tmpPath("mor_")
    LakeTable.create(spark, path, morProps(compactEvery = 2))
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(Int, String, Long, String)]
    val q = input.toDF().toDF("id", "v", "ts", "dt")
      .writeStream.format("graft")
      .option("checkpointLocation", tmpPath("mor_"))
      .start(path)
    try {
      input.addData((1, "a", 1L, "d1")); q.processAllAvailable()
      input.addData((2, "b", 1L, "d1"), (1, "a2", 2L, "d1")); q.processAllAvailable()
      val t = LakeTable.load(spark, path)
      assert(rows(t) == Set((1, "a2", 2L), (2, "b", 1L)))
      // the second micro-batch tripped the inline compaction
      assert(t.timeline.commits().map(_.action).contains("commit"))
    } finally q.stop()
  }

  test("SQL catalog read of MOR is the real-time view (compact-on-read)") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", "target/graft_warehouse_test")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.mor1")
    spark.sql("""CREATE TABLE graft.db.mor1 (id INT, v STRING, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = 'mor')""")
    spark.sql("INSERT INTO graft.db.mor1 VALUES (1,'a',1)")
    // delta-only table: the name-based read compacts inline and serves
    // the merged state — never a stale/empty RO view
    assert(spark.sql("SELECT v FROM graft.db.mor1").head().getString(0) == "a")
    val wh = "target/graft_warehouse_test/db/mor1"
    // the read left compacted base files behind (amortization)
    assert(LakeTable.load(spark, wh).timeline.commits()
      .map(_.action).contains("commit"))
    // a fresh delta is visible to the next name-based read too
    spark.sql("INSERT INTO graft.db.mor1 VALUES (2,'b',1)")
    assert(spark.sql("SELECT count(*) FROM graft.db.mor1").head().getLong(0) == 2)
    // real-time view through the path API agrees
    assert(spark.read.format("graft").load(wh).count() == 2)
  }

  test("compaction rewrites only delta-affected partitions' base files") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d2")).toDF("id", "v", "ts", "dt"))
    t.compact() // establish base files in both partitions
    val baseD2 = t.timeline.liveFiles(None)
      .filter(e => e.partition.contains("d2")).map(_.path).toSet
    assert(baseD2.nonEmpty)
    // delta touches only d1
    t.upsert(Seq((1, "a2", 2L, "d1")).toDF("id", "v", "ts", "dt"))
    t.compact()
    val after = t.timeline.liveFiles(None)
    // d2's base file survived compaction UNTOUCHED (same path) —
    // compaction is O(deltas + overlapping bases), not O(table)
    assert(baseD2.subsetOf(after.map(_.path).toSet),
      s"untouched base files were rewritten: $baseD2 vs ${after.map(_.path)}")
    assert(after.forall(!_.delta), "no delta files may remain")
    assert(rows(t) == Set((1, "a2", 2L), (2, "b", 1L)))
  }

  test("SQL MOR read stays merged after ALL commits are archived") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", "target/graft_warehouse_test")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.mor_arch")
    spark.sql("""CREATE TABLE graft.db.mor_arch (id INT, v STRING, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = 'mor')""")
    spark.sql("INSERT INTO graft.db.mor_arch VALUES (1,'a',1), (2,'b',1)")
    spark.sql("INSERT INTO graft.db.mor_arch VALUES (1,'a2',2)")
    // archive EVERY delta commit: the action metadata is folded away,
    // but FileEntry.delta in the checkpoint keeps the files marked
    val wh = "target/graft_warehouse_test/db/mor_arch"
    assert(LakeTable.load(spark, wh).timeline.archive(0, 1) == 2)
    val got = spark.sql("SELECT id, v FROM graft.db.mor_arch ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a2"), (2, "b")),
      s"archived delta files served unmerged: $got")
  }

  test("MOR incremental returns merged changed rows, never raw tombstones") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    val c1 = t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d1")).toDF("id", "v", "ts", "dt"))
    t.upsert(Seq((1, "a2", 2L, "d1")).toDF("id", "v", "ts", "dt"))
    t.delete(Seq((2, "d1")).toDF("id", "dt"))
    val inc = t.incremental(c1)
    // no tombstone marker column, no null-data phantom rows
    assert(!inc.columns.contains(LakeTable.DeletedCol))
    val got = inc.select("id", "v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    // key 1's merged latest changed in range; deleted key 2 is absent
    assert(got == Set((1, "a2")), s"got $got")
  }

  test("morPayload='overwrite': later commit wins regardless of ordering value") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps().copy(morPayload = "overwrite"))
    t.upsert(Seq((1, "fresh", 5L, "d1")).toDF("id", "v", "ts", "dt"))
    // stale ts=3 arrives later: with the overwrite payload it REPLACES
    t.upsert(Seq((1, "stale", 3L, "d1")).toDF("id", "v", "ts", "dt"))
    assert(rows(t) == Set((1, "stale", 3L)))
    // an EXPLICIT overwrite policy on a 'latest' MOR table would be
    // silently ignored (the merge happens at read time) — fails loudly
    intercept[IllegalArgumentException] {
      LakeTable.create(spark, tmpPath("mor_"), morProps())
        .upsert(Seq((1, "x", 1L, "d1")).toDF("id", "v", "ts", "dt"),
          MergePolicy.OverwriteWithLatest)
    }
  }

  test("applyDeltas honors the overwrite payload: statement beats higher preCombine") {
    // the SQL row-level path's write-side merge must pick the same
    // winner the read-side merge would: on an 'overwrite' table the
    // LATER COMMIT wins even against a stored row with a larger
    // ordering value (a concurrent delta in the compaction-to-probe
    // window is the production shape of this competition)
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps().copy(morPayload = "overwrite"))
    t.upsert(Seq((1, "stored", 9L, "d1"), (2, "keep", 1L, "d1"))
      .toDF("id", "v", "ts", "dt"))
    // MERGE-shaped statement: upsert key 1 with a LOWER ts, no delete ids
    t.applyDeltas(
      deleteIds = None,
      upserts = Some(Seq((1, "statement", 5L, "d1")).toDF("id", "v", "ts", "dt")))
    assert(rows(t) == Set((1, "statement", 5L), (2, "keep", 1L)))
    // contrast: the default 'latest' payload keeps the larger ordering
    val l = LakeTable.create(spark, tmpPath("mor_"), morProps())
    l.upsert(Seq((1, "stored", 9L, "d1")).toDF("id", "v", "ts", "dt"))
    l.applyDeltas(
      deleteIds = None,
      upserts = Some(Seq((1, "statement", 5L, "d1")).toDF("id", "v", "ts", "dt")))
    assert(rows(l) == Set((1, "stored", 9L)))
  }

  test("tiered merge ≡ full merge over a clustered base + delta tail") {
    // the steady-state read shape of a maintained store: one deduped
    // base era (cluster replace) plus a small delta tail. The tiered
    // path must land byte-identical rows to the full windowed merge,
    // across every merge semantic: update winning, late update losing
    // (smaller preCombine), tombstone, re-insert after tombstone, and
    // untouched pass-through keys.
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    t.upsert((1 to 8).map(i => (i, s"v$i", 2L, "d1")).toDF("id", "v", "ts", "dt"))
    t.cluster() // replace commit, dedupedKeys stamped true
    t.upsert(Seq((2, "b2", 3L, "d1"), (9, "new", 3L, "d1")).toDF("id", "v", "ts", "dt"))
    t.upsert(Seq((3, "late", 1L, "d1")).toDF("id", "v", "ts", "dt")) // loses to ts=2
    t.delete(Seq((4, "d1")).toDF("id", "dt"))
    t.upsert(Seq((4, "back", 5L, "d1")).toDF("id", "v", "ts", "dt"))
    val expected = Set(
      (1, "v1", 2L), (2, "b2", 3L), (3, "v3", 2L), (4, "back", 5L),
      (5, "v5", 2L), (6, "v6", 2L), (7, "v7", 2L), (8, "v8", 2L),
      (9, "new", 3L))
    // plan shape: the tiered read anti-joins the base side instead of
    // windowing the whole table (min-rows floor lowered — the fixture
    // is far below the production threshold)
    spark.conf.set("spark.graft.morTieredMinRows", "0")
    try {
      val plan = t.snapshot().queryExecution.optimizedPlan.toString
      assert(plan.contains("LeftAnti"), s"tiered path not taken:\n$plan")
      assert(rows(t) == expected)
    } finally spark.conf.unset("spark.graft.morTieredMinRows")
    // default small-table floor + forced full merge must agree exactly
    val full = t.snapshot().queryExecution.optimizedPlan.toString
    assert(!full.contains("LeftAnti"))
    assert(rows(t) == expected)
    spark.conf.set("spark.graft.morTieredMaxTailRows", "0")
    try assert(rows(t) == expected)
    finally spark.conf.unset("spark.graft.morTieredMaxTailRows")
  }

  test("single deduped replace era reads with no merge windows") {
    val t = LakeTable.create(spark, tmpPath("mor_"), morProps())
    t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 2L, "d1")).toDF("id", "v", "ts", "dt"))
    t.upsert(Seq((1, "a2", 3L, "d1")).toDF("id", "v", "ts", "dt"))
    t.cluster()
    // freshly clustered: exactly one replace instant, stamped deduped —
    // the fast path must skip the merge windows entirely
    val plan = t.snapshot().queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("window"),
      s"post-cluster read still pays the merge window:\n$plan")
    assert(rows(t) == Set((1, "a2", 3L), (2, "b", 2L)))
  }
}
