package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Scenario + unit specs for the LakeTable core, transcribed from the
  * reference demos (SURVEY.md §5.1-5.2). */
class LakeTableSpec extends AnyFunSuite {
  import TestSpark.{spark, tmpPath}
  import spark.implicits._

  private def demoProps = TableProps(
    name = "test_hudi_table",
    primaryKey = Seq("id"),
    preCombineField = Some("ts"),
    partitionFields = Seq("dt"))

  private def rows(df: DataFrame): Set[(Int, String, Double, Long, String)] =
    df.select("id", "name", "price", "ts", "dt").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getString(4)))
      .toSet

  test("SparkSQLDemo full scenario: create→insert→update→delete→merge") {
    val path = tmpPath("lake_")
    val t = LakeTable.create(spark, path, demoProps)

    // insert into values (1,...),(2,...) — SparkSQLDemo.scala:56
    t.upsert(Seq((1, "hudi", 10.0, 100L, "2022-09-05"),
      (2, "hudi", 10.0, 100L, "2022-09-05"))
      .toDF("id", "name", "price", "ts", "dt"))
    // insert select 3 union select 4 — :57-61 (UNION dedups)
    t.upsert(Seq((3, "hudi", 10.0, 100L, "2022-09-25"),
      (4, "hudi", 10.0, 100L, "2022-09-25"))
      .toDF("id", "name", "price", "ts", "dt").distinct())
    assert(rows(t.snapshot()).size == 4)

    // update set price = 20.0 where id = 1 — :69-71
    t.updateWhere(col("id") === 1, Map("price" -> lit(20.0)))
    assert(rows(t.snapshot()).contains((1, "hudi", 20.0, 100L, "2022-09-05")))

    // delete where id = 1 — :73-75
    t.deleteWhere(col("id") === 1)
    assert(!rows(t.snapshot()).exists(_._1 == 1))

    // merge — :77-91
    val source = Seq(
      (1, "hudi", 112.0, 98L, "2022-09-05", "INSERT"),
      (2, "hudi_2", 10.0, 100L, "2022-09-05", "UPDATE"),
      (3, "hudi", 10.0, 100L, "2021-09-25", "DELETE"))
      .toDF("id", "name", "price", "ts", "dt", "opt_type")
    t.merge(source,
      matchedUpdate = Some(col("opt_type") =!= "DELETE"),
      matchedDelete = Some(col("opt_type") === "DELETE"),
      notMatchedInsert = Some(col("opt_type") =!= "DELETE"))

    val finalRows = rows(t.snapshot())
    assert(finalRows == Set(
      (1, "hudi", 112.0, 98L, "2022-09-05"),
      (2, "hudi_2", 10.0, 100L, "2022-09-05"),
      (4, "hudi", 10.0, 100L, "2022-09-25")),
      s"got $finalRows")
  }

  test("preCombine semantics: batch dedup + LatestByOrdering vs OverwriteWithLatest") {
    val path = tmpPath("lake_")
    val t = LakeTable.create(spark, path, demoProps)
    // intra-batch dup: larger ts wins
    t.upsert(Seq((1, "a", 1.0, 100L, "d1"), (1, "b", 2.0, 200L, "d1"))
      .toDF("id", "name", "price", "ts", "dt"))
    assert(rows(t.snapshot()) == Set((1, "b", 2.0, 200L, "d1")))
    // stale update (ts=50 < 200) loses under LatestByOrdering
    t.upsert(Seq((1, "stale", 9.0, 50L, "d1")).toDF("id", "name", "price", "ts", "dt"))
    assert(rows(t.snapshot()) == Set((1, "b", 2.0, 200L, "d1")))
    // equal ts: incoming wins (DefaultHoodieRecordPayload tie rule)
    t.upsert(Seq((1, "tie", 3.0, 200L, "d1")).toDF("id", "name", "price", "ts", "dt"))
    assert(rows(t.snapshot()) == Set((1, "tie", 3.0, 200L, "d1")))
    // OverwriteWithLatest: stale ts still replaces
    t.upsert(Seq((1, "force", 4.0, 10L, "d1")).toDF("id", "name", "price", "ts", "dt"),
      MergePolicy.OverwriteWithLatest)
    assert(rows(t.snapshot()) == Set((1, "force", 4.0, 10L, "d1")))
  }

  test("partition-scoped upsert: same key in another partition is a new record") {
    val path = tmpPath("lake_")
    val t = LakeTable.create(spark, path, demoProps)
    t.upsert(Seq((1, "a", 1.0, 100L, "d1")).toDF("id", "name", "price", "ts", "dt"))
    t.upsert(Seq((1, "b", 2.0, 200L, "d2")).toDF("id", "name", "price", "ts", "dt"))
    assert(rows(t.snapshot()) == Set((1, "a", 1.0, 100L, "d1"), (1, "b", 2.0, 200L, "d2")))
    // delete keyed to d2 only removes the d2 copy
    t.delete(Seq((1, "d2")).toDF("id", "dt"))
    assert(rows(t.snapshot()) == Set((1, "a", 1.0, 100L, "d1")))
  }

  test("IncrementalQuery scenario: commit-range reads, begin-exclusive") {
    val path = tmpPath("lake_")
    val t = LakeTable.create(spark, path, demoProps)
    // 5 single-row commits — IncrementalQuery.scala:84-88
    val batches = Seq(
      (1, "hudi", 10.0, 100L, "2022-11-25"),
      (2, "hudi", 10.0, 100L, "2022-11-25"),
      (3, "hudi", 10.0, 100L, "2022-11-26"),
      (4, "hudi", 10.0, 100L, "2022-12-26"),
      (5, "hudi", 10.0, 100L, "2022-12-27"))
    val instants = batches.map(b =>
      t.upsert(Seq(b).toDF("id", "name", "price", "ts", "dt")))
    // commits() is newest-first like show_commits
    val listed = t.commits().select("commit_time").as[String].collect().toSeq
    assert(listed == instants.reverse)
    // begin = commits(1) (second newest) ⇒ only the newest commit's row
    val inc = t.incremental(listed(1))
    assert(rows(inc) == Set(batches(4)))
    // begin..end window: (2nd, 4th] ⇒ rows 3 and 4
    val win = t.incremental(instants(1), Some(instants(3)))
    assert(rows(win) == Set(batches(2), batches(3)))
    // path glob restricts partitions — INCR_PATH_GLOB IncrementalQuery.scala:52
    val glob = t.incremental(instants(0), None, Some("dt=2022-11*"))
    assert(rows(glob) == Set(batches(1), batches(2)))
  }

  test("unchanged rows keep their commit time through COW rewrites") {
    val path = tmpPath("lake_")
    val t = LakeTable.create(spark, path, demoProps)
    val c1 = t.upsert(Seq((1, "a", 1.0, 100L, "d1"), (2, "b", 1.0, 100L, "d1"))
      .toDF("id", "name", "price", "ts", "dt"))
    val c2 = t.upsert(Seq((1, "a2", 2.0, 200L, "d1")).toDF("id", "name", "price", "ts", "dt"))
    val byId = t.snapshot().select(col("id"), col(LakeTable.CommitTimeCol))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(byId(1) == c2 && byId(2) == c1)
    // incremental after c1 sees only id=1
    assert(rows(t.incremental(c1)).map(_._1) == Set(1))
  }

  test("schema evolution: additive column on upsert") {
    val path = tmpPath("lake_")
    val t = LakeTable.create(spark, path, demoProps)
    t.upsert(Seq((1, "a", 1.0, 100L, "d1")).toDF("id", "name", "price", "ts", "dt"))
    t.upsert(Seq((2, "b", 2.0, 100L, "d1", 999.0))
      .toDF("id", "name", "price", "ts", "dt", "salary"))
    val snap = t.snapshot()
    assert(snap.columns.contains("salary"))
    val sal = snap.select("id", "salary").collect()
      .map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(sal(1).isEmpty && sal(2).contains(999.0))
  }

  test("KeyGen placeholders and composite keys") {
    val df = Seq((Some(1), Some("x")), (None, Some("")), (Some(3), None))
      .toDF("a", "b")
    val out = df.select(
      KeyGen.recordKey(Seq("a", "b")).as("k"),
      KeyGen.partitionPath(Seq("b"), hiveStyle = true).as("p"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSet == Set(
      ("a:1,b:x", "b=x"),
      ("a:__null__,b:__empty__", "b=default"),
      ("a:3,b:__null__", "b=default")))
  }

  test("BootstrapDemo: full + metadata bootstrap, then upsert-append") {
    // F2 fixture: existing parquet source, then the :66/:113 append batch
    val srcRows = Seq((1, "a1", 10, 1000, "2022-10-08"), (2, "a2", 20, 2000, "2022-10-09"))
    val appendBatch = Seq((2, "a2", 22, 2200, "2022-10-09"), (4, "a4", 40, 4000, "2022-10-08"))
    val props = TableProps("bootstrap_t", Seq("id"), Some("ts"), Seq.empty)
    def checkFinal(t: LakeTable): Unit = {
      val got = t.snapshot().select("id", "name", "value", "ts", "dt").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
      assert(got == Set(
        (1, "a1", 10, 1000, "2022-10-08"),
        (2, "a2", 22, 2200, "2022-10-09"),
        (4, "a4", 40, 4000, "2022-10-08")), s"got $got")
    }
    val srcDir = tmpPath("lake_")
    srcRows.toDF("id", "name", "value", "ts", "dt").write.parquet(srcDir)

    val full = LakeTable.bootstrapFull(spark, tmpPath("lake_"), srcDir, props)
    full.upsert(appendBatch.toDF("id", "name", "value", "ts", "dt"))
    checkFinal(full)

    val meta = LakeTable.bootstrapMetadata(spark, tmpPath("lake_"), srcDir, props)
    // snapshot over foreign files works before any rewrite
    assert(meta.snapshot().count() == 2)
    meta.upsert(appendBatch.toDF("id", "name", "value", "ts", "dt"))
    checkFinal(meta)
    // first touch migrated the external file: no external refs remain live
    val stillExternal = meta.timeline.liveFiles(None).filter(_.external)
    assert(stillExternal.isEmpty)
  }

  test("incremental read includes bootstrap-adopted records") {
    val srcDir = tmpPath("lake_")
    Seq((1, "a1", 10, 1000, "2022-10-08"), (2, "a2", 20, 2000, "2022-10-09"))
      .toDF("id", "name", "value", "ts", "dt").write.parquet(srcDir)
    val props = TableProps("bootstrap_inc", Seq("id"), Some("ts"), Seq.empty)
    val t = LakeTable.bootstrapMetadata(spark, tmpPath("lake_"), srcDir, props)
    // external files get synthesized meta columns: the adopted rows
    // appear in an incremental read spanning the bootstrap commit
    val inc = t.incremental("0")
    assert(inc.count() == 2)
    assert(inc.select("_commit_time").distinct().count() == 1)
    // and an incremental read beginning AT the bootstrap excludes them
    val boot = t.timeline.commits().head.instant
    assert(t.incremental(boot).count() == 0)
  }

  test("snapshotWhere prunes partitions driver-side") {
    val path = tmpPath("lake_")
    val t = LakeTable.create(spark, path, demoProps)
    t.upsert(Seq((1, "a", 1.0, 100L, "d1"), (2, "b", 1.0, 100L, "d2"))
      .toDF("id", "name", "price", "ts", "dt"))
    val pruned = t.snapshotWhere(_ == "dt=d1")
    assert(rows(pruned).map(_._1) == Set(1))
    // plan should reference exactly one file
    assert(pruned.inputFiles.length == 1)
  }

  test("cdc: net change feed with ops and before images (COW)") {
    val path = tmpPath("lake_")
    val t = LakeTable.create(spark, path, demoProps)
    val c1 = t.upsert(Seq(
      (1, "a", 1.0, 1L, "d1"), (2, "b", 2.0, 1L, "d1"),
      (3, "c", 3.0, 1L, "d2"), (4, "d", 4.0, 1L, "d2"))
      .toDF("id", "name", "price", "ts", "dt"))
    // update 1; update-then-delete 2 (net delete, BEGIN before-image);
    // insert-then-delete 5 (net no-op); insert 6
    t.upsert(Seq((1, "a2", 10.0, 2L, "d1"), (2, "b2", 20.0, 2L, "d1"),
      (5, "e", 5.0, 2L, "d1")).toDF("id", "name", "price", "ts", "dt"))
    t.delete(Seq((2, "d1"), (5, "d1")).toDF("id", "dt"))
    t.upsert(Seq((6, "f", 6.0, 3L, "d2")).toDF("id", "name", "price", "ts", "dt"))

    val feed = t.cdc(c1)
    val got = feed.select(col(LakeTable.ChangeOpCol), col("id"),
      col("name"), col(s"${LakeTable.BeforeImageCol}.id").as("bid"),
      col(s"${LakeTable.BeforeImageCol}.name").as("bname"))
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), Option(r.get(4)))).toSet
    assert(got == Set(
      ("u", Some(1), Some("a2"), Some(1), Some("a")),
      ("d", None, None, Some(2), Some("b")), // before = begin state, not "b2"
      ("i", Some(6), Some("f"), None, None)))
    // 3 and 4 (untouched) and 5 (insert+delete inside the range) absent;
    // end-bounded feed excludes the later insert of 6
    val bounded = t.cdc(c1, Some(t.commits().collect()
      .map(_.getString(0)).sorted.apply(2))) // up to the delete commit
    assert(bounded.filter(col(LakeTable.ChangeOpCol) === "i").count() == 0)
  }

  test("cdc: I/O is churn-proportional (untouched partitions not read)") {
    val path = tmpPath("lake_")
    val t = LakeTable.create(spark, path, demoProps)
    val c1 = t.upsert(Seq((1, "a", 1.0, 1L, "d1"), (2, "b", 2.0, 1L, "d2"),
      (3, "c", 3.0, 1L, "d3")).toDF("id", "name", "price", "ts", "dt"))
    t.upsert(Seq((1, "a2", 2.0, 2L, "d1")).toDF("id", "name", "price", "ts", "dt"))
    val feed = t.cdc(c1)
    // only d1's files (old + rewritten) are planned — d2/d3 never read
    assert(feed.inputFiles.forall(f => f.contains("dt=d1")))
    assert(feed.collect().map(_.getString(0)).toSeq == Seq("u"))
  }

  test("cdc: value-diff across a replace commit (restore in the range)") {
    val path = tmpPath("lake_")
    val t = LakeTable.create(spark, path, demoProps)
    val c1 = t.upsert(Seq((1, "a", 1.0, 1L, "d1"), (2, "b", 2.0, 1L, "d1"))
      .toDF("id", "name", "price", "ts", "dt"))
    val c2 = t.upsert(Seq((1, "a2", 2.0, 2L, "d1"), (3, "c", 3.0, 2L, "d1"))
      .toDF("id", "name", "price", "ts", "dt"))
    t.delete(Seq((2, "d1")).toDF("id", "dt"))
    val c4 = t.restoreTo(c1)
    // state at c2 = {1:a2, 2:b, 3:c}; after restore = {1:a, 2:b}.
    // Restored rows keep pre-begin commit times, so only the value
    // diff can see: 1 'u' (a2→a), 3 'd'; 2 (deleted then restored)
    // is net-unchanged and must NOT appear.
    val got = t.cdc(c2).select(col(LakeTable.ChangeOpCol),
      coalesce(col("id"), col(s"${LakeTable.BeforeImageCol}.id")).as("k"),
      col("name"), col(s"${LakeTable.BeforeImageCol}.name"))
      .collect().map(r => (r.getString(0), r.getInt(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(got == Set(
      ("u", 1, Some("a"), Some("a2")),
      ("d", 3, None, Some("c"))))
    // a pure reorganization (clustering) is also a replace commit but
    // changes no values — the feed stays empty
    t.cluster()
    assert(t.cdc(c4).isEmpty)
  }

  test("cdc: MOR tombstones surface as deletes; format('graft') cdc option") {
    val path = tmpPath("lake_")
    val t = LakeTable.create(spark, path,
      demoProps.copy(tableType = "mor"))
    val c1 = t.upsert(Seq((1, "a", 1.0, 1L, "d1"), (2, "b", 2.0, 1L, "d1"))
      .toDF("id", "name", "price", "ts", "dt"))
    t.upsert(Seq((1, "a2", 2.0, 2L, "d1")).toDF("id", "name", "price", "ts", "dt"))
    t.delete(Seq((2, "d1")).toDF("id", "dt"))
    val feed = spark.read.format("graft")
      .option("queryType", "cdc").option("beginInstant", c1)
      .load(path)
    val got = feed.select(col(LakeTable.ChangeOpCol), col("id"),
      col(s"${LakeTable.BeforeImageCol}.name"))
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(got == Set(("u", Some(1), Some("a")), ("d", None, Some("b"))))
  }

  test("merge consolidates a key live in two partitions to ONE row") {
    // partition-scoped upserts legitimately leave key 1 live in BOTH
    // d1 and d2 (the default non-global index); a global-key MERGE
    // update must then consolidate to ONE source image, not write the
    // image once per stored location. Covers both table types.
    for (tt <- Seq("cow", "mor")) {
      val t = LakeTable.create(spark, tmpPath("lake_"), demoProps.copy(tableType = tt))
      t.upsert(Seq((1, "a", 1.0, 100L, "d1"), (2, "b", 1.0, 100L, "d1"))
        .toDF("id", "name", "price", "ts", "dt"))
      t.upsert(Seq((1, "a2", 2.0, 200L, "d2"))
        .toDF("id", "name", "price", "ts", "dt"))
      assert(rows(t.snapshot()).count(_._1 == 1) == 2, s"$tt: setup")
      t.merge(Seq((1, "m", 9.0, 300L, "d2", "UPDATE"))
        .toDF("id", "name", "price", "ts", "dt", "opt_type"),
        matchedUpdate = Some(col("opt_type") === "UPDATE"))
      val got = rows(t.snapshot()).filter(_._1 == 1)
      assert(got == Set((1, "m", 9.0, 300L, "d2")),
        s"$tt: expected one consolidated row, got $got")
    }
  }

  test("snapshotSkipping: stats-pruned reads stay MOR-exact across delta overlays") {
    import graft.core.ColPred
    val t = LakeTable.create(spark, tmpPath("lake_"), TableProps(
      "skip", Seq("id"), Some("ts"), Seq.empty, tableType = "mor",
      statsColumns = Seq("fp", "ts")))
    // 100 keys in 10 fp-groups g0..g9
    val rows = (0 until 100).map(i => (i.toLong, s"g${i / 10}", s"v$i", 1L))
    t.upsert(rows.toDF("id", "fp", "v", "ts"))
    // before clustering everything is delta: zero skips, full answer
    val (d0, s0) = t.snapshotSkipping(
      Seq(ColPred("fp", "eq", Seq("g3"), isLong = false)))
    assert(s0.skipped == 0 && s0.kept == 0 && s0.deltaRead > 0)
    assert(d0.filter(col("fp") === "g3").select("id").collect()
      .map(_.getLong(0)).toSet == (30L until 40L).toSet)
    // cluster by fp into many files -> tight per-file fp bounds
    t.cluster(Seq("fp"), targetFiles = 10)
    val (d1, s1) = t.snapshotSkipping(
      Seq(ColPred("fp", "eq", Seq("g3"), isLong = false)))
    assert(s1.skipped > 0, s"clustered base must prune: $s1")
    assert(d1.filter(col("fp") === "g3").select("id").collect()
      .map(_.getLong(0)).toSet == (30L until 40L).toSet)
    // delta overlay: id 35 re-homes g3 -> g9, id 31 departs. The kept
    // g3 base file still PHYSICALLY holds both stale rows - the merge
    // over always-read deltas must hide them; and the g9 read must
    // surface 35's new version even though 35's base row sits in a
    // pruned g3 file.
    t.upsert(Seq((35L, "g9", "v35b", 2L)).toDF("id", "fp", "v", "ts"))
    t.delete(Seq(31L).toDF("id"))
    val (d2, s2) = t.snapshotSkipping(
      Seq(ColPred("fp", "eq", Seq("g3"), isLong = false)))
    assert(s2.skipped > 0 && s2.deltaRead > 0)
    assert(d2.filter(col("fp") === "g3").select("id").collect()
      .map(_.getLong(0)).toSet ==
      Set(30L, 32L, 33L, 34L, 36L, 37L, 38L, 39L),
      "stale base versions of re-homed/deleted keys must not resurface")
    val (d3, _) = t.snapshotSkipping(
      Seq(ColPred("fp", "eq", Seq("g9"), isLong = false)))
    assert(d3.filter(col("fp") === "g9").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      ((90L until 100L).map(i => (i, s"v$i")) :+ (35L, "v35b")).toSet)
    // ts-eq pruning reads only the delta tail (replay-widening's read)
    val (d4, s4) = t.snapshotSkipping(
      Seq(ColPred("ts", "eq", Seq("2"), isLong = true)))
    assert(s4.kept == 0 && s4.skipped > 0,
      s"all base files predate ts=2 and must prune: $s4")
    assert(d4.filter(col("ts") === 2).select("id").collect()
      .map(_.getLong(0)).toSet == Set(35L))
    // IN-list predicate keeps the union of matching groups
    val (d5, _) = t.snapshotSkipping(
      Seq(ColPred("fp", "eq", Seq("g1", "g7"), isLong = false)))
    assert(d5.filter(col("fp").isin("g1", "g7")).select("id").collect()
      .map(_.getLong(0)).toSet ==
      ((10L until 20L) ++ (70L until 80L)).toSet)
  }
}
