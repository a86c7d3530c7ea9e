package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{LakeTable, TableProps}

/** Structured-streaming surface (SURVEY §2.10): streaming upsert sink
  * (ST2/ST3) and the commit-tailing streaming read (ST4/S11). */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.{spark, tmpPath}
  import spark.implicits._

  test("streaming upsert sink: micro-batches become keyed commits") {
    val path = tmpPath("stream_sink_")
    val checkpoint = tmpPath("stream_ckpt_")
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(Int, String, Long)]
    val q = input.toDF().toDF("id", "v", "ts")
      .writeStream
      .format("graft")
      .option("checkpointLocation", checkpoint)
      .option("primaryKey", "id")
      .option("preCombineField", "ts")
      .start(path)
    try {
      input.addData((1, "a", 100L), (2, "b", 100L))
      q.processAllAvailable()
      input.addData((1, "a2", 200L), (3, "c", 100L))
      q.processAllAvailable()
      val snap = LakeTable.load(spark, path).snapshot()
        .select("id", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet
      assert(snap == Set((1, "a2"), (2, "b"), (3, "c")))
      // two micro-batches -> two upsert commits
      assert(LakeTable.load(spark, path).timeline.commits().size == 2)
    } finally q.stop()
  }

  test("sink replay after lost marker does not duplicate insert batches") {
    val path = tmpPath("stream_replay_")
    val ckpt = "replay-ckpt"
    val sink = new graft.sql.GraftStreamSink(spark, Map(
      "path" -> path, "operation" -> "insert",
      "primaryKey" -> "id", "checkpointLocation" -> ckpt))
    val batch = Seq((1, "a", 1L), (2, "b", 1L)).toDF("id", "v", "ts")
    sink.addBatch(0L, batch)
    val t = LakeTable.load(spark, path)
    assert(t.snapshot().count() == 2)
    // simulate a crash between commit and marker write: wipe _streaming/
    val sdir = new org.apache.hadoop.fs.Path(t.basePath, "_streaming")
    sdir.getFileSystem(spark.sessionState.newHadoopConf()).delete(sdir, true)
    // the batch id is recorded in the commit tag, so the replayed
    // insert is detected and skipped instead of appending duplicates
    sink.addBatch(0L, batch)
    assert(t.snapshot().count() == 2)
    assert(t.timeline.commits().size == 1)
    // and the marker was repaired: next batch applies normally
    sink.addBatch(1L, Seq((3, "c", 1L)).toDF("id", "v", "ts"))
    assert(t.snapshot().count() == 3)
  }

  test("torn exactly-once marker reads as absent and is repaired, not a wedge") {
    val path = tmpPath("stream_torn_")
    val ckpt = "torn-ckpt"
    val sink = new graft.sql.GraftStreamSink(spark, Map(
      "path" -> path, "operation" -> "insert",
      "primaryKey" -> "id", "checkpointLocation" -> ckpt))
    sink.addBatch(0L, Seq((1, "a", 1L)).toDF("id", "v", "ts"))
    val t = LakeTable.load(spark, path)
    val once = new graft.streaming.ExactlyOnce(spark, ckpt)
    // simulate a crash mid-marker-write: truncate the marker to empty
    val mp = new org.apache.hadoop.fs.Path(t.basePath,
      s"_streaming/${once.markerName}")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(mp, true).close()
    // a torn marker must read as absent (tags are authoritative)...
    assert(once.lastBatchId(t) == -1L)
    // ...so the replayed batch is detected from the commit tag and
    // skipped, and the marker is repaired for the next batch
    sink.addBatch(0L, Seq((1, "a", 1L)).toDF("id", "v", "ts"))
    assert(t.snapshot().count() == 1 && t.timeline.commits().size == 1)
    assert(once.lastBatchId(t) == 0L)
    sink.addBatch(1L, Seq((2, "b", 1L)).toDF("id", "v", "ts"))
    assert(t.snapshot().count() == 2)
  }

  test("sink replay is refused even after the tagged commit was archived") {
    val path = tmpPath("stream_archive_replay_")
    val ckpt = "archive-replay-ckpt"
    val sink = new graft.sql.GraftStreamSink(spark, Map(
      "path" -> path, "operation" -> "insert",
      "primaryKey" -> "id", "checkpointLocation" -> ckpt))
    (0 to 3).foreach { b =>
      sink.addBatch(b.toLong, Seq((10 + b, s"v$b", 1L)).toDF("id", "v", "ts"))
    }
    val t = LakeTable.load(spark, path)
    assert(t.snapshot().count() == 4)
    // archive EVERY commit (user-triggerable at any cadence), folding
    // the tagged commits into the checkpoint
    assert(t.timeline.archive(minToKeep = 0, maxToKeep = 1) == 4)
    // crash between commit and marker write AND an aggressive archive:
    // the batch-id tag now lives only in the checkpoint
    val sdir = new org.apache.hadoop.fs.Path(t.basePath, "_streaming")
    sdir.getFileSystem(spark.sessionState.newHadoopConf()).delete(sdir, true)
    sink.addBatch(3L, Seq((13, "v3", 1L)).toDF("id", "v", "ts"))
    assert(t.snapshot().count() == 4, "archived batch tag must prevent replay")
    // marker repaired: the next real batch still applies
    sink.addBatch(4L, Seq((14, "v4", 1L)).toDF("id", "v", "ts"))
    assert(t.snapshot().count() == 5)
  }

  test("rate-source-style synthesized stream into the sink (ST1 shape)") {
    val path = tmpPath("stream_rate_")
    val checkpoint = tmpPath("stream_rate_ckpt_")
    implicit val sctx = spark.sqlContext
    // bounded stand-in for the Flink datagen source: sequence ids +
    // deterministic synthesized columns (TestStreamingMOR.java:23-36)
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("user_id")
      .withColumn("product", substring(md5(col("user_id").cast("string")), 1, 5))
      .withColumn("amount", (col("user_id") % 100).cast("double"))
      .withColumn("ts", col("user_id"))
      .writeStream.format("graft")
      .option("checkpointLocation", checkpoint)
      .option("primaryKey", "user_id").option("preCombineField", "ts")
      .start(path)
    try {
      input.addData(1L to 100L: _*)
      q.processAllAvailable()
      assert(LakeTable.load(spark, path).snapshot().count() == 100)
    } finally q.stop()
  }

  test("watermarked tumbling-window aggregation over a stream (scale extension)") {
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = input.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData((t(1), "click", 1.0), (t(2), "click", 2.0), (t(7), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(col("window.start").cast("string"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00", "click", 2L),
        ("2024-01-01 10:05:00", "view", 1L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming exact dedup: fingerprint dups dropped across batches within watermark") {
    // the streaming half of dedup1: content-fingerprint dedup on an
    // unbounded ingest stream — dropDuplicatesWithinWatermark keeps
    // state only for the watermark window, so state is bounded at
    // 100 TB/day ingest (an unbounded dropDuplicates would OOM)
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val deduped = input.toDF().toDF("ts", "doc_id", "text")
      .withColumn("fp", md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData((t(1), 1L, "alpha beta"), (t(2), 2L, "ALPHA   beta"))
      q.processAllAvailable()
      // same fingerprint in a LATER batch, still inside the watermark
      input.addData((t(3), 3L, " alpha beta "), (t(4), 4L, "gamma"))
      q.processAllAvailable()
      // advance the watermark far enough to flush results
      input.addData((t(59), 5L, "omega"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.contains(1L) && !ids.contains(2L) && !ids.contains(3L),
        s"normalized dups must dedup across batches: $ids")
      assert(ids.contains(4L), s"distinct docs must survive: $ids")
    } finally q.stop()
  }

  test("commit-tail stream of a MOR table drops tombstones and fences inflight writers") {
    import graft.core.{LakeTable, TableProps}
    val path = tmpPath("mor_tail_") + "/t"
    val t = LakeTable.create(spark, path, TableProps(
      "mor_tail", Seq("id"), Some("ts"), Seq.empty, tableType = "mor"))
    t.upsert(Seq((1, "a", 1L), (2, "b", 1L)).toDF("id", "v", "ts"))
    t.delete(Seq(Tuple1(2)).toDF("id")) // tombstone delta row
    // batch-read the stream's planInputPartitions surface directly
    val stream = new graft.streaming.CommitTailStream(
      spark, t, new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of()), t.schema)
    val parts = stream.planInputPartitions(
      stream.initialOffset(), stream.latestOffset())
    val factory = stream.createReaderFactory()
    val rows = parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      while (r.next()) {
        val row = r.get()
        buf += ((row.getInt(0), Option(row.getUTF8String(1)).map(_.toString).orNull))
      }
      r.close(); buf
    }
    // the tombstone's phantom (2, null) row must NOT appear
    assert(rows.toSet == Set((1, "a"), (2, "b")), s"got ${rows.toSeq}")
    // inflight fence: a writer that declared intent but has not
    // committed caps latestOffset below the newest commit
    val before = stream.latestOffset().asInstanceOf[graft.streaming.CommitOffset]
    val inflight = t.timeline.beginWrite() // slow writer's declared intent
    t.upsert(Seq((3, "c", 1L)).toDF("id", "v", "ts")) // faster writer lands
    val fenced = stream.latestOffset().asInstanceOf[graft.streaming.CommitOffset]
    assert(fenced.instant < inflight,
      s"offset ${fenced.instant} must stay below inflight $inflight")
    t.timeline.clearInflight(inflight)
    val after = stream.latestOffset().asInstanceOf[graft.streaming.CommitOffset]
    assert(after.instant > before.instant, "offset must advance once cleared")
  }

  test("streaming CDC feed: net ops with before images arrive per micro-batch") {
    val path = tmpPath("cdc_stream_")
    val ckpt = tmpPath("cdc_stream_ckpt_")
    val t = LakeTable.create(spark, path, TableProps(
      "cdcs", Seq("id"), Some("ts"), Seq.empty))
    val c1 = t.upsert(Seq((1, "a", 1L), (2, "b", 1L)).toDF("id", "v", "ts"))
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Option[Int], Option[String], Option[String])]
    val q = spark.readStream.format("graft")
      .option("queryType", "cdc").option("startCommit", c1)
      .load(path)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        got.synchronized {
          got ++= df.select(col(LakeTable.ChangeOpCol), col("id"), col("v"),
            col(s"${LakeTable.BeforeImageCol}.v"))
            .collect().map(r => (id, r.getString(0), Option(r.get(1))
              .map(_.asInstanceOf[Int]), Option(r.get(2)).map(_.toString),
              Option(r.get(3)).map(_.toString)))
        }
        ()
      }
      .start()
    try {
      // batch with an update + an insert, then a later batch with a delete
      t.upsert(Seq((1, "a2", 2L), (3, "c", 1L)).toDF("id", "v", "ts"))
      q.processAllAvailable()
      t.delete(Seq(Tuple1(2)).toDF("id"))
      q.processAllAvailable()
      val ops = got.synchronized(got.toVector)
      assert(ops.map(o => (o._2, o._3, o._4, o._5)).toSet == Set(
        ("u", Some(1), Some("a2"), Some("a")),
        ("i", Some(3), Some("c"), None),
        ("d", None, None, Some("b"))))
      // the delete arrived in a LATER micro-batch than the update/insert
      val updateBatch = ops.find(_._2 == "u").get._1
      val deleteBatch = ops.find(_._2 == "d").get._1
      assert(deleteBatch > updateBatch)
    } finally q.stop()
  }

  test("cdc source: batches spanning a schema evolution conform; reversed range is empty") {
    import graft.streaming.GraftCdcSource
    val path = tmpPath("cdc_evo_")
    val t = LakeTable.create(spark, path, TableProps(
      "evo", Seq("id"), Some("ts"), Seq.empty))
    val c1 = t.upsert(Seq((1, "a", 1L)).toDF("id", "v", "ts"))
    val c2 = t.upsert(Seq((1, "a2", 2L, 9L)).toDF("id", "v", "ts", "w"))
    val src = new GraftCdcSource(spark, LakeTable.load(spark, path), "0")
    // the range BEGINS before the additive evolution: the before struct
    // is old-era and must be padded to the declared (current) schema
    // batchFrame = getBatch minus the isStreaming stamp (a stamped
    // frame cannot be collected outside streaming execution)
    val batch = src.batchFrame(c1, c2)
    // structural match (names + types; nullability may narrow)
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType.simpleString)).toSeq
    assert(shape(batch.schema) == shape(src.schema))
    val r = batch.select(col(LakeTable.ChangeOpCol), col("w"),
      col(s"${LakeTable.BeforeImageCol}.v"),
      col(s"${LakeTable.BeforeImageCol}.w")).collect()
    assert(r.map(x => (x.getString(0), Option(x.get(1)), Option(x.get(2)),
      Option(x.get(3)))).toSeq == Seq(("u", Some(9L), Some("a"), None)))
    // a fence-regressed (reversed) offset range yields an EMPTY batch,
    // never an inverse diff with spurious deletes
    assert(src.batchFrame(c2, c1).isEmpty)
  }

  test("streaming MV (production shape): exactly-once across kill/restart") {
    import graft.streaming.{ExactlyOnce, MvMaintenance}
    val basePath = tmpPath("smv_base_")
    val mvPath = tmpPath("smv_mv_")
    val ckpt = tmpPath("smv_ckpt_")
    val t = LakeTable.create(spark, basePath, TableProps(
      "smvb", Seq("id"), Some("ts"), Seq.empty))
    LakeTable.create(spark, mvPath, TableProps(
      "smvm", Seq("grp"), None, Seq.empty))
    def mv = LakeTable.load(spark, mvPath)
    // amounts are integral so the delta fold is exact in LONG
    t.upsert(Seq((1, "g1", 10L, 1L), (2, "g1", 20L, 1L), (3, "g2", 5L, 1L))
      .toDF("id", "grp", "amt", "ts"))
    val op = col(LakeTable.ChangeOpCol)
    val bef = col(LakeTable.BeforeImageCol)
    val deltasOf = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(coalesce(col("grp"), bef.getField("grp")).as("grp"))
        .agg(
          sum(when(op === "i", 1L).when(op === "d", -1L).otherwise(0L))
            .as("dcnt"),
          sum(when(op === "i", col("amt"))
            .when(op === "d", -bef.getField("amt"))
            .otherwise(col("amt") - bef.getField("amt"))).as("dsum"))
    val mvSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "grp STRING, cnt BIGINT, sum_amt BIGINT")
    val fold = (stored: org.apache.spark.sql.DataFrame,
        deltas: org.apache.spark.sql.DataFrame) =>
      // the natural fold — MvMaintenance hands an empty mvSchema frame
      // on the bootstrap batch, so no batch-0 special case here
      stored.join(deltas, Seq("grp"), "full_outer")
        .select(col("grp"),
          (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L)))
            .as("cnt"),
          (coalesce(col("sum_amt"), lit(0L)) + coalesce(col("dsum"), lit(0L)))
            .as("sum_amt"))
    def run() = MvMaintenance.start(spark, basePath, mvPath, ckpt, mvSchema,
      deltasOf, fold)
    def mvState(): Set[(String, Long, Long)] =
      mv.snapshot().select("grp", "cnt", "sum_amt")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def recompute(): Set[(String, Long, Long)] =
      t.snapshot().groupBy("grp")
        .agg(count(lit(1)).as("cnt"), sum("amt").as("sum_amt"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // phase 1: bootstrap fold (batch 0 replays every current row as 'i')
    val q1 = run()
    try {
      q1.processAllAvailable()
      assert(mvState() == Set(("g1", 2L, 30L), ("g2", 1L, 5L)))
    } finally q1.stop() // KILL mid-stream
    // base keeps moving while the MV refresh is down: update g1's row,
    // insert into g2, delete a g1 row
    t.upsert(Seq((1, "g1", 15L, 2L), (4, "g2", 7L, 1L))
      .toDF("id", "grp", "amt", "ts"))
    t.delete(Seq(Tuple1(2)).toDF("id"))
    // phase 2: restart from the checkpoint — the missed commits fold,
    // and the MV equals a full recompute of the base table
    val q2 = run()
    try {
      q2.processAllAvailable()
      assert(mvState() == recompute())
      assert(mvState() == Set(("g1", 1L, 15L), ("g2", 2L, 12L)))
    } finally q2.stop()
    // phase 3: crash-window replay — the fold committed but the
    // sidecar marker write was lost. The commit-tag safety net must
    // skip the re-fold (a double-applied delta would corrupt the MV)
    // and repair the marker.
    val once = new ExactlyOnce(spark, ckpt)
    val lastId = once.committedBatchId(mv)
    assert(lastId >= 0)
    assert(new java.io.File(mvPath, s"_streaming/${once.markerName}").delete())
    assert(!once.runOnce(mv, lastId) { _ =>
      fail("crash-window replay must not re-fold the batch")
    })
    assert(once.lastBatchId(mv) == lastId) // marker repaired
    // clean replay after restart: sidecar fast path skips it too
    assert(!once.runOnce(mv, lastId) { _ => fail("clean replay re-folded") })
    assert(mvState() == recompute())
  }

  test("stream-stream interval join attributes clicks within the window") {
    // the streaming analog of q16/q22 attribution: impressions joined
    // to clicks on ad_id where the click lands within 10 min after
    // the impression. Both sides watermarked so the join state is
    // BOUNDED — the only stream-stream join shape that survives an
    // unbounded run.
    implicit val sctx = spark.sqlContext
    val impIn = MemoryStream[(Int, Long)]
    val clkIn = MemoryStream[(Int, Long)]
    val imps = impIn.toDF().toDF("ad_id", "imp_sec")
      .withColumn("imp_ts", timestamp_seconds(col("imp_sec")))
      .withWatermark("imp_ts", "10 minutes")
    val clks = clkIn.toDF().toDF("c_ad_id", "clk_sec")
      .withColumn("clk_ts", timestamp_seconds(col("clk_sec")))
      .withWatermark("clk_ts", "10 minutes")
    val joined = imps.join(clks,
      col("ad_id") === col("c_ad_id") &&
        col("clk_ts") >= col("imp_ts") &&
        col("clk_ts") <= col("imp_ts") + expr("interval 10 minutes"))
    val q = joined.select("ad_id", "imp_sec", "clk_sec").writeStream
      .format("memory").queryName("ss_join").outputMode("append").start()
    try {
      impIn.addData((1, 1000L), (2, 1000L), (3, 1000L))
      clkIn.addData((1, 1300L)) // in window: 1000 + 300s
      q.processAllAvailable()
      clkIn.addData((2, 1700L)) // outside: 700s > 10 min
      clkIn.addData((3, 900L)) // before the impression
      q.processAllAvailable()
      val got = spark.table("ss_join").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1, 1000L, 1300L)),
        s"interval join matched the wrong pairs: $got")
      // advance both watermarks far past the window; old state must
      // not resurrect matches for a late click inside the old range
      impIn.addData((9, 100000L))
      clkIn.addData((9, 100000L))
      q.processAllAvailable()
      clkIn.addData((1, 1100L)) // would match, but is behind the watermark
      q.processAllAvailable()
      val after = spark.table("ss_join").collect().length
      assert(after == 2, s"late click behind the watermark joined: $after rows")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{Sessionize, SessionEvent}
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)] // (user, epochMs, value)
    val events = input.toDF().toDF("userId", "ms", "value")
      .selectExpr("userId", "timestamp_millis(ms) AS ts", "value")
      .withWatermark("ts", "0 seconds")
      .as[SessionEvent](org.apache.spark.sql.Encoders.product[SessionEvent])
    val q = Sessionize.sessions(events, gapMs = 60000L) // 1 min gap
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").option("checkpointLocation", tmpPath("sess_ckpt_")).start()
    try {
      val base = 1700000000000L
      // user 1: two events 10s apart (one session); user 2: one event;
      // user 4: two events 5 MINUTES apart in the SAME batch — the
      // event-time gap check must split them without any timeout
      input.addData((1L, base, 1.0), (1L, base + 10000, 2.0), (2L, base + 5000, 5.0),
        (4L, base, 7.0), (4L, base + 300000, 8.0))
      q.processAllAvailable()
      // advance the watermark far past both sessions' gaps
      input.addData((3L, base + 600000, 0.5))
      q.processAllAvailable()
      // one more tick so timed-out groups flush on every version
      input.addData((3L, base + 1200000, 0.5))
      q.processAllAvailable()
      val got = spark.table("sessions_out")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSet
      assert(got.contains((1L, 2L, 3.0)), s"user1 session wrong: $got")
      assert(got.contains((2L, 1L, 5.0)), s"user2 session wrong: $got")
      // in-batch gap split: two single-event sessions for user 4
      assert(got.contains((4L, 1L, 7.0)) && got.contains((4L, 1L, 8.0)),
        s"user4 in-batch split wrong: $got")
    } finally q.stop()
  }

  test("commit-tail streaming read of a catalog table") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", "target/graft_warehouse_test")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.tail")
    spark.sql("""CREATE TABLE graft.db.tail (id INT, v STRING, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts')""")
    spark.sql("INSERT INTO graft.db.tail VALUES (1,'a',100)")

    val q = spark.readStream.table("graft.db.tail")
      .writeStream.format("memory").queryName("tail_out")
      .option("checkpointLocation", tmpPath("tail_ckpt_"))
      .start()
    try {
      q.processAllAvailable()
      val first = spark.table("tail_out").select("id").as[Int].collect().toSet
      assert(first == Set(1))
      // new commit → next micro-batch sees ONLY the new/changed rows
      spark.sql("INSERT INTO graft.db.tail VALUES (2,'b',100),(1,'a2',200)")
      q.processAllAvailable()
      val all = spark.table("tail_out")
        .select("id", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      // id=1 appears twice (original + changed version), id=2 once
      assert(all.count(_ == (1, "a")) == 1 && all.count(_ == (1, "a2")) == 1 &&
        all.count(_._1 == 2) == 1, s"got $all")
    } finally q.stop()
  }

  test("streaming search-index maintenance: kill/restart converges to batch answer") {
    import graft.streaming.SearchIndexMaintenance
    import graft.queries.SearchIndex
    val docsPath = tmpPath("six_docs_")
    val postPath = tmpPath("six_post_")
    val statsPath = tmpPath("six_stats_")
    val totPath = tmpPath("six_tot_")
    val ckpt = tmpPath("six_ckpt_")
    val docs = LakeTable.create(spark, docsPath, TableProps(
      "sixdocs", Seq("doc_id"), Some("ts"), Seq.empty))
    LakeTable.create(spark, postPath, TableProps(
      "sixpost", Seq("doc_id", "term"), Some("ts"), Seq.empty,
      tableType = "mor"))
    LakeTable.create(spark, statsPath, TableProps(
      "sixstats", Seq("term"), Some("ts"), Seq.empty, tableType = "mor"))
    LakeTable.create(spark, totPath, TableProps(
      "sixtot", Seq("id"), Some("ts"), Seq.empty, tableType = "mor"))
    docs.upsert(Seq(
      (1L, "alpha bravo alpha", 1L),
      (2L, "bravo charlie", 1L)).toDF("doc_id", "text", "ts"))
    def run() = SearchIndexMaintenance.start(
      spark, docsPath, postPath, statsPath, totPath, ckpt)
    def check(phase: String): Unit = {
      val corpus = docs.snapshot().select("doc_id", "text")
      val wantPost = SearchIndex.postingsOf(corpus).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      val gotPost = LakeTable.load(spark, postPath).snapshot()
        .select("doc_id", "term", "n", "len").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(gotPost == wantPost, s"[$phase] postings: " +
        s"extra=${gotPost -- wantPost} missing=${wantPost -- gotPost}")
      val wantDf = wantPost.groupBy(_._2)
        .map { case (t, g) => t -> g.map(_._1).size.toLong }
      val gotDf = LakeTable.load(spark, statsPath).snapshot()
        .filter(col("df") > 0).select("term", "df").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gotDf == wantDf, s"[$phase] df: got $gotDf want $wantDf")
      val wantLen = wantPost.groupBy(_._1).map(_._2.head._4).sum
      val tot = LakeTable.load(spark, totPath).snapshot()
        .select("n_docs", "tot_len").collect()
      assert(tot.length == 1 &&
        (tot(0).getLong(0), tot(0).getLong(1)) ==
          (wantPost.map(_._1).size.toLong, wantLen),
        s"[$phase] totals ${tot.toSeq}")
    }
    // phase 1: bootstrap fold (batch 0 replays every current doc)
    val q1 = run()
    try {
      q1.processAllAvailable()
      check("bootstrap")
    } finally q1.stop() // KILL mid-stream
    // the corpus keeps moving while maintenance is down: doc 1's text
    // is REPLACED (alpha/bravo postings tombstone, delta/echo appear,
    // df decrements), doc 3 arrives, doc 2 is deleted
    docs.upsert(Seq(
      (1L, "delta echo", 2L),
      (3L, "alpha foxtrot", 2L)).toDF("doc_id", "text", "ts"))
    docs.delete(Seq(Tuple1(2L)).toDF("doc_id"))
    // phase 2: restart from the checkpoint — the missed commits fold
    // through the per-table exactly-once guards
    val q2 = run()
    try {
      q2.processAllAvailable()
      check("restart")
    } finally q2.stop()
    // phase 3: crash-window replay, PER TABLE — the fold committed
    // (batch tag in the table's commit) but the sidecar marker write
    // was lost. The df/totals folds are non-idempotent, so for each
    // of the three state tables the commit-tag safety net must skip
    // the re-fold and repair the marker; this is the crash-anywhere
    // convergence the per-table guard design exists for.
    val once = new graft.streaming.ExactlyOnce(spark, ckpt)
    for (p <- Seq(postPath, statsPath, totPath)) {
      val t = LakeTable.load(spark, p)
      val lastId = once.committedBatchId(t)
      assert(lastId >= 0, s"$p: no tagged commit")
      assert(new java.io.File(p, s"_streaming/${once.markerName}").delete())
      assert(!once.runOnce(t, lastId) { _ =>
        fail(s"$p: crash-window replay must not re-fold the batch")
      })
      assert(once.lastBatchId(t) == lastId) // marker repaired
    }
    check("crash-window")
  }

  test("search-index maintenance fails fast on a docs table without text") {
    import graft.streaming.SearchIndexMaintenance
    val docsPath = tmpPath("sixm_docs_")
    def mor(prefix: String, key: Seq[String]) = LakeTable.create(spark, tmpPath(prefix),
      TableProps(prefix, key, Some("ts"), Seq.empty, tableType = "mor")).basePath
    val docs = LakeTable.create(spark, docsPath, TableProps(
      "sixmdocs", Seq("doc_id"), Some("ts"), Seq.empty))
    docs.upsert(Seq((1L, "alpha bravo alpha", 1L)).toDF("doc_id", "body", "ts"))
    // misconfiguration fails fast at start() with the service's own
    // message — a docs table whose text column is misnamed must not
    // surface later as an opaque streaming analysis error inside
    // foreachBatch
    val e = intercept[IllegalArgumentException](SearchIndexMaintenance.start(
      spark, docsPath, mor("sixm_post_", Seq("doc_id", "term")),
      mor("sixm_stats_", Seq("term")), mor("sixm_tot_", Seq("id")),
      tmpPath("sixm_ckpt_")))
    assert(e.getMessage.contains("text"), e.getMessage)
  }

  test("mid-stream schema evolution: maintained index folds on, equals batch answer") {
    // at 100 TB, producers add columns without stopping consumers:
    // the docs schema WIDENS (additive upsert, lake5
    // ROW_DATA_TYPE_WIDER semantics) while SearchIndexMaintenance is
    // LIVE — same query lifecycle, no restart. The CDC source pinned
    // its schema at stream start and the fold projects (doc_id,
    // text), so widened batches must keep folding and the index must
    // stay hash-equal to the batch answer over the widened corpus.
    import graft.streaming.SearchIndexMaintenance
    import graft.queries.SearchIndex
    val docsPath = tmpPath("sev_docs_")
    val postPath = tmpPath("sev_post_")
    val statsPath = tmpPath("sev_stats_")
    val totPath = tmpPath("sev_tot_")
    val ckpt = tmpPath("sev_ckpt_")
    val docs = LakeTable.create(spark, docsPath, TableProps(
      "sevdocs", Seq("doc_id"), Some("ts"), Seq.empty))
    LakeTable.create(spark, postPath, TableProps(
      "sevpost", Seq("doc_id", "term"), Some("ts"), Seq.empty,
      tableType = "mor"))
    LakeTable.create(spark, statsPath, TableProps(
      "sevstats", Seq("term"), Some("ts"), Seq.empty, tableType = "mor"))
    LakeTable.create(spark, totPath, TableProps(
      "sevtot", Seq("id"), Some("ts"), Seq.empty, tableType = "mor"))
    docs.upsert(Seq(
      (1L, "alpha bravo alpha", 1L),
      (2L, "bravo charlie", 1L)).toDF("doc_id", "text", "ts"))
    def check(phase: String): Unit = {
      val corpus = docs.snapshot().select("doc_id", "text")
      val wantPost = SearchIndex.postingsOf(corpus).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      val gotPost = LakeTable.load(spark, postPath).snapshot()
        .select("doc_id", "term", "n", "len").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(gotPost == wantPost, s"[$phase] postings: " +
        s"extra=${gotPost -- wantPost} missing=${wantPost -- gotPost}")
      val wantDf = wantPost.groupBy(_._2)
        .map { case (t, g) => t -> g.map(_._1).size.toLong }
      val gotDf = LakeTable.load(spark, statsPath).snapshot()
        .filter(col("df") > 0).select("term", "df").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gotDf == wantDf, s"[$phase] df: got $gotDf want $wantDf")
      val wantLen = wantPost.groupBy(_._1).map(_._2.head._4).sum
      val tot = LakeTable.load(spark, totPath).snapshot()
        .select("n_docs", "tot_len").collect()
      assert(tot.length == 1 &&
        (tot(0).getLong(0), tot(0).getLong(1)) ==
          (wantPost.map(_._1).size.toLong, wantLen),
        s"[$phase] totals ${tot.toSeq}")
    }
    val q = SearchIndexMaintenance.start(
      spark, docsPath, postPath, statsPath, totPath, ckpt)
    try {
      q.processAllAvailable()
      check("pre-widen")
      // the widening batch: a NEW column arrives together with an
      // update (doc 1 re-texted) and an insert (doc 3) — postings
      // must tombstone/decrement the pre-image terms as usual
      docs.upsert(Seq(
        (1L, "delta echo", 2L, "en"),
        (3L, "alpha foxtrot", 2L, "de")).toDF("doc_id", "text", "ts", "lang"))
      q.processAllAvailable()
      assert(LakeTable.load(spark, docsPath).schema.fieldNames
        .contains("lang"), "docs schema did not widen")
      check("post-widen")
      // keep going on the widened table: a delete and another widened
      // insert fold through the same live query
      docs.delete(Seq(Tuple1(2L)).toDF("doc_id"))
      docs.upsert(Seq((4L, "echo golf", 3L, "fr"))
        .toDF("doc_id", "text", "ts", "lang"))
      q.processAllAvailable()
      check("post-widen-churn")
    } finally q.stop()
  }

  test("mid-stream schema evolution: near-dup service folds on too") {
    // same producer-widens-while-consumer-runs claim for the OTHER
    // maintained service: NearDupMaintenance keeps reconciling across
    // an additive docs widening within one query lifecycle, and the
    // pairs table stays equal to a brute-force recompute
    import graft.queries.DedupOps
    import graft.streaming.NearDupMaintenance
    val docsPath = tmpPath("sev2_docs_")
    val sigPath = tmpPath("sev2_sigs_")
    val pairsPath = tmpPath("sev2_pairs_")
    val ckpt = tmpPath("sev2_ckpt_")
    val docs = LakeTable.create(spark, docsPath, TableProps(
      "sev2docs", Seq("doc_id"), Some("ts"), Seq.empty))
    LakeTable.create(spark, sigPath, TableProps(
      "sev2sigs", Seq("doc_id"), Some("ts"), Seq.empty))
    LakeTable.create(spark, pairsPath, TableProps(
      "sev2pairs", Seq("a", "b"), Some("ts"), Seq.empty))
    val fam = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs.upsert(Seq(
      (1L, fam, 1L),
      (2L, fam + " extra", 1L)).toDF("doc_id", "text", "ts"))
    def recompute(): Set[(Long, Long)] = {
      val snap = docs.snapshot().select("doc_id", "text")
      val allPairs = snap.select(col("doc_id").as("a"))
        .crossJoin(snap.select(col("doc_id").as("b")))
        .filter(col("a") < col("b"))
      DedupOps.verifyJaccard(allPairs, snap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def pairSet(): Set[(Long, Long)] =
      LakeTable.load(spark, pairsPath).snapshot()
        .select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = NearDupMaintenance.start(spark, docsPath, sigPath, pairsPath, ckpt)
    try {
      q.processAllAvailable()
      val ps0 = pairSet()
      assert(ps0 == Set((1L, 2L)), s"bootstrap pairs: $ps0")
      assert(ps0 == recompute(), "bootstrap != brute force")
      // widen mid-stream: new docs arrive WITH a lang column — one a
      // near-dup of doc 1, one unrelated
      docs.upsert(Seq(
        (3L, fam + " more", 2L, "en"),
        (4L, "unrelated totally different words entirely", 2L, "de"))
        .toDF("doc_id", "text", "ts", "lang"))
      q.processAllAvailable()
      assert(LakeTable.load(spark, docsPath).schema.fieldNames
        .contains("lang"), "docs schema did not widen")
      val ps1 = pairSet()
      assert(ps1 == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"post-widen: $ps1")
      assert(ps1 == recompute(), "post-widen != brute force")
      // churn on the widened table through the same live query
      docs.delete(Seq(Tuple1(2L)).toDF("doc_id"))
      q.processAllAvailable()
      val ps2 = pairSet()
      assert(ps2 == Set((1L, 3L)), s"post-delete: $ps2")
      assert(ps2 == recompute(), "post-delete != brute force")
    } finally q.stop()
  }

  test("clusterEvery folds the service's delta tails without changing state") {
    import graft.streaming.NearDupMaintenance
    val docsPath = tmpPath("sfo_docs_")
    val sigPath = tmpPath("sfo_sigs_")
    val pairsPath = tmpPath("sfo_pairs_")
    val postPath = tmpPath("sfo_post_")
    val ckpt = tmpPath("sfo_ckpt_")
    val docs = LakeTable.create(spark, docsPath, TableProps(
      "sfodocs", Seq("doc_id"), Some("ts"), Seq.empty))
    LakeTable.create(spark, sigPath, TableProps(
      "sfosigs", Seq("doc_id"), Some("ts"), Seq.empty,
      tableType = "mor", statsColumns = Seq("fp", "ts")))
    LakeTable.create(spark, pairsPath, TableProps(
      "sfopairs", Seq("a", "b"), Some("ts"), Seq.empty, tableType = "mor"))
    LakeTable.create(spark, postPath, TableProps(
      "sfopost", Seq("bk", "doc_id"), Some("ts"), Seq.empty,
      tableType = "mor", statsColumns = Seq("bk", "ts")))
    val fam = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs.upsert(Seq((1L, fam, 1L), (2L, fam + " extra", 1L))
      .toDF("doc_id", "text", "ts"))
    def pairSet(): Set[(Long, Long)] =
      LakeTable.load(spark, pairsPath).snapshot()
        .select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = NearDupMaintenance.start(spark, docsPath, sigPath, pairsPath,
      ckpt, postingsPath = Some(postPath), clusterEvery = 1)
    try {
      q.processAllAvailable()
      docs.upsert(Seq((3L, fam + " more", 2L)).toDF("doc_id", "text", "ts"))
      q.processAllAvailable()
      assert(pairSet() == Set((1L, 2L), (1L, 3L), (2L, 3L)))
      // the fold actually ran: post-bootstrap batches left replace
      // commits on the maintained tables, and every MOR delta is
      // folded (the live set is a single replace era)
      val sig = LakeTable.load(spark, sigPath)
      assert(sig.timeline.commits().exists(_.action == "replace"),
        "no fold replace commit on the sig store")
      docs.delete(Seq(Tuple1(2L)).toDF("doc_id"))
      q.processAllAvailable()
      assert(pairSet() == Set((1L, 3L)), "post-fold churn drifted")
    } finally q.stop()
  }

  test("streaming near-dup maintenance: kill/restart converges to batch answer") {
    import graft.streaming.{ExactlyOnce, NearDupMaintenance}
    import graft.queries.DedupOps
    val docsPath = tmpPath("snd_docs_")
    val sigPath = tmpPath("snd_sigs_")
    val pairsPath = tmpPath("snd_pairs_")
    val ckpt = tmpPath("snd_ckpt_")
    val docs = LakeTable.create(spark, docsPath, TableProps(
      "snddocs", Seq("doc_id"), Some("ts"), Seq.empty))
    LakeTable.create(spark, sigPath, TableProps(
      "sndsigs", Seq("doc_id"), Some("ts"), Seq.empty))
    LakeTable.create(spark, pairsPath, TableProps(
      "sndpairs", Seq("a", "b"), Some("ts"), Seq.empty))
    val famA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val famB = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val famC = "uniform victor whiskey xray yankee zulu one two three four"
    docs.upsert(Seq(
      (1L, famA, 1L),
      (2L, famA + " extra", 1L),            // near-dup of 1
      (3L, famB, 1L),
      (4L, famB + " tail", 1L))             // near-dup of 3
      .toDF("doc_id", "text", "ts"))
    def run() = NearDupMaintenance.start(
      spark, docsPath, sigPath, pairsPath, ckpt)
    def pairSet(): Set[(Long, Long)] =
      LakeTable.load(spark, pairsPath).snapshot()
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recompute(): Set[(Long, Long)] = {
      // brute force: every id pair, exact-Jaccard verified
      val snap = docs.snapshot().select("doc_id", "text")
      val ids = snap.select(col("doc_id").as("a"))
      val allPairs = ids.crossJoin(snap.select(col("doc_id").as("b")))
        .filter(col("a") < col("b"))
      DedupOps.verifyJaccard(allPairs, snap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // phase 1: bootstrap (batch 0 replays every current doc as 'i')
    val q1 = run()
    try {
      q1.processAllAvailable()
      assert(pairSet() == Set((1L, 2L), (3L, 4L)))
      assert(pairSet() == recompute())
    } finally q1.stop() // KILL mid-stream
    // the corpus keeps moving while maintenance is down:
    //  - doc 2 rewrites to family C → pair (1,2) must vanish
    //  - doc 5 arrives as a near-dup of doc 1 → pair (1,5) appears
    //  - doc 4 is deleted → pair (3,4) must vanish
    docs.upsert(Seq(
      (2L, famC, 2L),
      (5L, famA + " more", 2L)).toDF("doc_id", "text", "ts"))
    docs.delete(Seq(Tuple1(4L)).toDF("doc_id"))
    // phase 2: restart from the checkpoint — missed commits reconcile
    val q2 = run()
    try {
      q2.processAllAvailable()
      assert(pairSet() == Set((1L, 5L)), s"got ${pairSet()}")
      assert(pairSet() == recompute())
      // deleted doc's signature left the store
      val sigIds = LakeTable.load(spark, sigPath).snapshot()
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(sigIds == Set(1L, 2L, 3L, 5L))
    } finally q2.stop()
    // phase 3: a doc updated to a text too short to shingle must still
    // REPLACE its stored signature (empty band array, not a stale one)
    // and shed its pairs — the store-currency invariant
    docs.upsert(Seq((1L, "tiny text", 3L)).toDF("doc_id", "text", "ts"))
    val q3 = run()
    try {
      q3.processAllAvailable()
      assert(pairSet() == Set.empty, s"got ${pairSet()}")
      val bands1 = LakeTable.load(spark, sigPath).snapshot()
        .filter(col("doc_id") === 1L).select("bands")
        .collect().map(_.getSeq[String](0))
      assert(bands1.length == 1 && bands1.head.isEmpty,
        s"doc 1 should hold an EMPTY current signature, got $bands1")
    } finally q3.stop()
    // phase 4: crash-window replay — reconciliation committed but the
    // sidecar marker write was lost; the commit-tag safety net skips
    val once = new ExactlyOnce(spark, ckpt)
    val pairsTab = LakeTable.load(spark, pairsPath)
    val lastId = once.committedBatchId(pairsTab)
    assert(lastId >= 0)
    assert(new java.io.File(pairsPath, s"_streaming/${once.markerName}").delete())
    assert(!once.runOnce(pairsTab, lastId) { _ =>
      fail("crash-window replay must not re-reconcile the batch")
    })
    assert(once.lastBatchId(pairsTab) == lastId)
  }

  test("streaming media-index maintenance: kill/restart converges; crash-window skips") {
    import graft.streaming.{ExactlyOnce, SignatureMaintenance}
    import graft.multimodal.MediaDecoder
    val payPath = tmpPath("smi_pay_")
    val sigPath = tmpPath("smi_sigs_")
    val pairsPath = tmpPath("smi_pairs_")
    val ckpt = tmpPath("smi_ckpt_")
    val pay = LakeTable.create(spark, payPath, TableProps(
      "smipay", Seq("doc_id"), Some("ts"), Seq.empty))
    LakeTable.create(spark, sigPath, TableProps(
      "smisigs", Seq("doc_id"), Some("ts"), Seq.empty, tableType = "mor"))
    LakeTable.create(spark, pairsPath, TableProps(
      "smipairs", Seq("a", "b"), Some("ts"), Seq.empty, tableType = "mor"))
    def img(seed: Long, bright: Boolean): Array[Byte] =
      MediaDecoder.encodeBmp24With(16, 16) { (x, y) =>
        def c(k: Int): Int = {
          val v = ((((seed * (131 + k)) + x) * (seed % 97 + 31 + k) +
            (seed * 137 + y) * (seed % 89 + 23)) % 256).toInt
          val vi = (v + 256) % 256
          if (bright) math.min(vi + 1, 255) else vi
        }
        (c(0) << 16) | (c(1) << 8) | c(2)
      }
    pay.upsert(Seq(
      (1L, img(5, bright = false), 1L),
      (2L, img(5, bright = true), 1L),   // perceptual copy of 1
      (3L, img(900, bright = false), 1L),
      (4L, img(900, bright = true), 1L)) // perceptual copy of 3
      .toDF("doc_id", "payload", "ts"))
    def run() = SignatureMaintenance.start(
      spark, payPath, sigPath, pairsPath, ckpt)
    def pairSet(): Set[(Long, Long)] =
      LakeTable.load(spark, pairsPath).snapshot()
        .select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def sigIds(): Set[Long] =
      LakeTable.load(spark, sigPath).snapshot()
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // phase 1: bootstrap (batch 0 replays every current payload as 'i')
    val q1 = run()
    try {
      q1.processAllAvailable()
      assert(pairSet() == Set((1L, 2L), (3L, 4L)))
    } finally q1.stop() // KILL mid-stream
    // the corpus keeps moving while maintenance is down:
    //  - doc 2 re-images to an unrelated pattern → pair (1,2) vanishes
    //  - doc 5 arrives as a copy of doc 1 → pair (1,5) appears
    //  - doc 4 is deleted → pair (3,4) vanishes
    pay.upsert(Seq(
      (2L, img(7777, bright = false), 2L),
      (5L, img(5, bright = true), 2L)).toDF("doc_id", "payload", "ts"))
    pay.delete(Seq(Tuple1(4L)).toDF("doc_id"))
    // phase 2: restart from the checkpoint — missed commits reconcile
    val q2 = run()
    try {
      q2.processAllAvailable()
      assert(pairSet() == Set((1L, 5L)), s"got ${pairSet()}")
      assert(sigIds() == Set(1L, 2L, 3L, 5L))
    } finally q2.stop()
    // phase 3: doc 1 re-encodes as UNDECODABLE media — its stale
    // signature and pairs must leave the index (the no-signature
    // tombstone leg, store-currency invariant)
    pay.upsert(Seq((1L, "not an image".getBytes("UTF-8"), 3L))
      .toDF("doc_id", "payload", "ts"))
    val q3 = run()
    try {
      q3.processAllAvailable()
      assert(pairSet() == Set.empty, s"got ${pairSet()}")
      assert(sigIds() == Set(2L, 3L, 5L))
    } finally q3.stop()
    // the decode census sidecar journals every non-empty batch; the
    // undecodable re-encode of doc 1 must be a RECORDED drop, not an
    // invisible one
    val statsLines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(ckpt,
        SignatureMaintenance.DecodeStatsFile)).toArray.map(_.toString)
    assert(statsLines.length >= 3, statsLines.mkString("\n"))
    assert(statsLines.last.contains("\"hashed\":0") &&
      statsLines.last.contains("\"dropped\":1"),
      s"last census line: ${statsLines.last}")
    // the same census is queryable from SQL (CALL decode_stats) —
    // drop-rate monitoring without touching the sidecar file
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse",
      "target/graft_warehouse_test")
    val statRows = spark.sql(
      s"CALL graft.system.decode_stats(checkpoint => '$ckpt')")
      .orderBy("batch").collect()
    assert(statRows.length == statsLines.length,
      s"decode_stats rows ${statRows.length} != lines ${statsLines.length}")
    val last = statRows.last
    assert(last.getLong(2) == 0L && last.getLong(3) == 1L,
      s"decode_stats last row: $last")
    // empty/missing sidecar → zero rows, not an error
    assert(spark.sql(
      s"CALL graft.system.decode_stats(checkpoint => '${tmpPath("smi_nock_")}')")
      .isEmpty)
    // phase 4: crash-window replay — the tagged pairs commit landed
    // but the sidecar marker write was lost; the commit-tag safety
    // net (the tag phashReconcile now carries) skips the re-apply
    val once = new ExactlyOnce(spark, ckpt)
    val pairsTab = LakeTable.load(spark, pairsPath)
    val lastId = once.committedBatchId(pairsTab)
    assert(lastId >= 0, "no batch tag found on the pairs table")
    assert(new java.io.File(pairsPath,
      s"_streaming/${once.markerName}").delete())
    assert(!once.runOnce(pairsTab, lastId) { _ =>
      fail("crash-window replay must not re-reconcile the batch")
    })
    assert(once.lastBatchId(pairsTab) == lastId)
    // misconfiguration fails fast at start() with the service's own
    // message — a misnamed payload column must not surface later as
    // an opaque streaming analysis error inside foreachBatch
    val e = intercept[IllegalArgumentException](SignatureMaintenance.start(
      spark, payPath, sigPath, pairsPath, tmpPath("smi_ckpt2_"),
      payloadCol = "no_such_col"))
    assert(e.getMessage.contains("no_such_col"), e.getMessage)
  }

  test("commit tail emits bootstrap-adopted rows with the adopting instant") {
    // external (metadata-bootstrap) files carry no _commit_time column;
    // the stream must synthesize the adopting commit's instant — the
    // batch incremental query's semantics — instead of silently
    // dropping every adopted row on the null range filter. Driven at
    // the MicroBatchStream level (planInputPartitions + reader), the
    // exact surface the engine drives.
    import org.apache.spark.sql.types.{IntegerType, StringType,
      StructField, StructType}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.streaming.{CommitOffset, CommitTailStream}
    val srcDir = tmpPath("boot_src_")
    Seq((1, "a", 1L), (2, "b", 1L)).toDF("id", "v", "ts")
      .write.parquet(srcDir)
    val t = LakeTable.bootstrapMetadata(spark, tmpPath("boot_tail_"), srcDir,
      TableProps("boottail", Seq("id"), Some("ts"), Seq.empty))
    val boot = t.timeline.commits().head.instant
    // output schema REQUESTS _commit_time: adopted rows must carry the
    // synthesized instant, not null
    val out = StructType(Seq(StructField("id", IntegerType),
      StructField("v", StringType),
      StructField(LakeTable.CommitTimeCol, StringType)))
    val stream = new CommitTailStream(spark, t,
      CaseInsensitiveStringMap.empty(), out)
    val end = stream.latestOffset()
    val parts = stream.planInputPartitions(CommitOffset("0"), end)
    assert(parts.nonEmpty, "bootstrap commit must plan partitions")
    val factory = stream.createReaderFactory()
    val rows = parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      try {
        while (r.next()) {
          val row = r.get()
          buf += ((row.getInt(0), row.getUTF8String(1).toString,
            row.getUTF8String(2).toString))
        }
      } finally r.close()
      buf
    }.sortBy(_._1).toVector
    assert(rows.map(r => (r._1, r._2)) == Vector((1, "a"), (2, "b")),
      s"adopted rows must stream: $rows")
    assert(rows.forall(_._3 == boot),
      s"synthesized _commit_time must be the adopting instant $boot: $rows")
  }

  // --- sigs-committed / pairs-uncommitted crash window ---------------
  // The reconcile invariant "pairs tag present ⇒ sigs committed" has a
  // lossy converse: a crash AFTER the signature commit but BEFORE the
  // tagged pairs commit replays the batch against a store that already
  // reflects attempt 1 — a departed doc has no row, a re-hashed doc
  // carries its NEW signature — so churn-derived affected groups miss
  // the OLD groups and their re-homed star edges would never re-derive.
  // The replay widening (store rows stamped with THIS batch's ts) must
  // recover them. Simulated with real machinery: run the batch fully,
  // then restoreTo the PAIRS table to its pre-batch instant (sigs keep
  // attempt 1's commit; pairs content is exactly the uncommitted case).

  test("near-dup reconcile: sigs-committed/pairs-uncommitted replay converges") {
    import graft.queries.NearDupIndex
    val sigs = LakeTable.create(spark, tmpPath("cw_sigs_"), TableProps(
      "sigs", Seq("doc_id"), Some("ts"), Seq.empty, tableType = "mor"))
    val pairs = LakeTable.create(spark, tmpPath("cw_pairs_"), TableProps(
      "pairs", Seq("a", "b"), Some("ts"), Seq.empty, tableType = "mor"))
    val g = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val h = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val u = "uniform victor whiskey xray yankee zulu nectar quartz vivid lore"
    val v = "amber basalt cobalt dune ember flint garnet heath iris jasper"
    // group G = {1,2,3} byte-equal; group H = {5,6,7} byte-equal
    val seed = Seq((1L, g), (2L, g), (3L, g), (5L, h), (6L, h), (7L, h),
      (10L, u)).toDF("doc_id", "text")
    NearDupIndex.reconcile(seed, Seq.empty[Long].toDF("doc_id"), seed,
      sigs, pairs, 1L)
    val preBatch = pairs.timeline.commits().last.instant
    // batch 2 hits BOTH lossy shapes: G's rep departs (doc 1 deleted →
    // star (2,3) must re-home) and H's rep re-hashes away (doc 5's text
    // becomes unrelated → star (6,7) must re-home)
    val churn = Seq((5L, v)).toDF("doc_id", "text")
    val deleted = Seq(1L).toDF("doc_id")
    val snap2 = Seq((2L, g), (3L, g), (5L, v), (6L, h), (7L, h), (10L, u))
      .toDF("doc_id", "text")
    def pairsNow() = pairs.snapshot().select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    NearDupIndex.reconcile(churn, deleted, snap2, sigs, pairs, 2L)
    val converged = pairsNow()
    assert(Set((2L, 3L), (6L, 7L)).subsetOf(converged), s"got $converged")
    assert(!converged.exists { case (a, b) => a == 1L || b == 1L },
      s"departed doc 1 must leave the pairs table: $converged")
    // crash window: pairs back to pre-batch, sigs keep attempt 1
    pairs.restoreTo(preBatch)
    NearDupIndex.reconcile(churn, deleted, snap2, sigs, pairs, 2L)
    assert(pairsNow() == converged,
      s"replay after the sigs-committed window must converge: " +
        s"${pairsNow()} vs $converged")
  }

  test("phash reconcile: sigs-committed/pairs-uncommitted replay converges") {
    import graft.queries.MultimodalOps
    val sigs = LakeTable.create(spark, tmpPath("cwm_sigs_"), TableProps(
      "sigs", Seq("doc_id"), Some("ts"), Seq.empty, tableType = "mor"))
    val pairs = LakeTable.create(spark, tmpPath("cwm_pairs_"), TableProps(
      "pairs", Seq("a", "b"), Some("ts"), Seq.empty, tableType = "mor"))
    // byte-equal payloads ⇒ identical signatures; distinct payloads get
    // (near-surely) far-apart 64-bit hashes, so only star edges form
    val byteHash = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("doc_id"), xxhash64(col("payload")).as("hash_hi"),
      xxhash64(col("payload"), lit(1)).as("hash_lo"))
    def pay(s: String) = s.getBytes("UTF-8")
    val seed = Seq((1L, pay("m")), (2L, pay("m")), (3L, pay("m")),
      (5L, pay("n")), (6L, pay("n")), (7L, pay("n")), (10L, pay("u")))
      .toDF("doc_id", "payload")
    MultimodalOps.phashReconcile(seed, Seq.empty[Long].toDF("doc_id"),
      sigs, pairs, 1L, byteHash)
    val preBatch = pairs.timeline.commits().last.instant
    val churn = Seq((5L, pay("z"))).toDF("doc_id", "payload")
    val deleted = Seq(1L).toDF("doc_id")
    def pairsNow() = pairs.snapshot().select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    MultimodalOps.phashReconcile(churn, deleted, sigs, pairs, 2L, byteHash)
    val converged = pairsNow()
    assert(Set((2L, 3L), (6L, 7L)).subsetOf(converged), s"got $converged")
    pairs.restoreTo(preBatch)
    MultimodalOps.phashReconcile(churn, deleted, sigs, pairs, 2L, byteHash)
    assert(pairsNow() == converged,
      s"replay after the sigs-committed window must converge: " +
        s"${pairsNow()} vs $converged")
  }

  test("clustered signature stores: churn batches skip files and stay exact") {
    import graft.queries.{MultimodalOps, NearDupIndex}
    // ---- text: store clustered by fp, churn touches 2 of 10 groups
    val sigsT = LakeTable.create(spark, tmpPath("fsk_tsigs_"), TableProps(
      "sigs", Seq("doc_id"), Some("ts"), Seq.empty, tableType = "mor",
      statsColumns = Seq("fp", "ts")))
    val pairsT = LakeTable.create(spark, tmpPath("fsk_tpairs_"), TableProps(
      "pairs", Seq("a", "b"), Some("ts"), Seq.empty, tableType = "mor"))
    def gText(g: Int) = (0 until 10)
      .map(j => s"w${g}word$j token$j alpha$g").mkString(" ")
    // 10 groups × 3 byte-equal docs: ids g*10+{1,2,3}
    val seedT = (0 until 10).flatMap(g =>
      Seq(1, 2, 3).map(i => (g * 10L + i, gText(g))))
      .toDF("doc_id", "text")
    NearDupIndex.reconcile(seedT, Seq.empty[Long].toDF("doc_id"), seedT,
      sigsT, pairsT, 1L)
    sigsT.cluster(Seq("fp"), targetFiles = 8)
    // churn: delete group 0's rep (id 1) and re-text 51 out of group 5
    val churnT = Seq((51L, "zz unique text for fifty one qq")).toDF("doc_id", "text")
    val delT = Seq(1L).toDF("doc_id")
    val snapT = seedT.filter(!col("doc_id").isin(1L, 51L)).unionByName(churnT)
    val stT = NearDupIndex.reconcile(churnT, delT, snapT, sigsT, pairsT, 2L)
    assert(stT.skipped > 0,
      s"clustered text store must skip files on a churn batch: $stT")
    val gotT = pairsT.snapshot().select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantT = (0 until 10).flatMap { g =>
      val ids = Seq(1, 2, 3).map(g * 10L + _)
        .filterNot(i => i == 1L || i == 51L)
      ids.tail.map(b => (ids.head, b))
    }.toSet
    assert(gotT == wantT, s"pruned churn must stay exact: $gotT vs $wantT")

    // ---- media: store clustered by (hash_hi, hash_lo)
    val sigsM = LakeTable.create(spark, tmpPath("fsk_msigs_"), TableProps(
      "sigs", Seq("doc_id"), Some("ts"), Seq.empty, tableType = "mor",
      statsColumns = Seq("hash_hi", "hash_lo", "ts")))
    val pairsM = LakeTable.create(spark, tmpPath("fsk_mpairs_"), TableProps(
      "pairs", Seq("a", "b"), Some("ts"), Seq.empty, tableType = "mor"))
    val byteHash = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("doc_id"), xxhash64(col("payload")).as("hash_hi"),
      xxhash64(col("payload"), lit(1)).as("hash_lo"))
    val seedM = (0 until 10).flatMap(g =>
      Seq(1, 2, 3).map(i => (g * 10L + i, s"payload$g".getBytes("UTF-8"))))
      .toDF("doc_id", "payload")
    MultimodalOps.phashReconcile(seedM, Seq.empty[Long].toDF("doc_id"),
      sigsM, pairsM, 1L, byteHash)
    sigsM.cluster(Seq("hash_hi", "hash_lo"), targetFiles = 8)
    val churnM = Seq((51L, "unique51".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val stM = MultimodalOps.phashReconcile(churnM, Seq(1L).toDF("doc_id"),
      sigsM, pairsM, 2L, byteHash)
    assert(stM.storeFilesSkipped > 0,
      s"clustered media store must skip files on a churn batch: $stM")
    val gotM = pairsM.snapshot().select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotM == wantT, s"pruned media churn must stay exact: $gotM")
  }

  test("text posting index: probe-from-postings pairs equal the full rep-scan pairs") {
    import graft.queries.NearDupIndex
    def mk(prefix: String, pk: Seq[String], stats: Seq[String]) =
      LakeTable.create(spark, tmpPath(prefix), TableProps(
        prefix, pk, Some("ts"), Seq.empty, tableType = "mor",
        statsColumns = stats))
    val sigsA = mk("peq_sa_", Seq("doc_id"), Seq("fp", "ts"))
    val pairsA = mk("peq_pa_", Seq("a", "b"), Seq.empty)
    val sigsB = mk("peq_sb_", Seq("doc_id"), Seq("fp", "ts"))
    val pairsB = mk("peq_pb_", Seq("a", "b"), Seq.empty)
    val postB = mk("peq_ix_", Seq("bk", "doc_id"), Seq("bk", "ts"))
    def text(g: Int, variant: Int) = ((0 until 12).map(j =>
      s"g${g}token$j word$j") ++ (0 until variant).map(j => s"extra$j"))
      .mkString(" ")
    // corpus: 8 groups; groups 0/1 have a near-dup variant doc (cross
    // pairs through the band probe + exact-Jaccard verify)
    val state = scala.collection.mutable.Map[Long, String]()
    def runBoth(churn: Seq[(Long, String)], dels: Seq[Long], ts: Long) = {
      dels.foreach(state.remove)
      churn.foreach { case (d, t) => state(d) = t }
      val churnDf = churn.toDF("doc_id", "text")
      val delDf = dels.toDF("doc_id")
      val snap = state.toSeq.toDF("doc_id", "text")
      NearDupIndex.reconcile(churnDf, delDf, snap, sigsA, pairsA, ts)
      NearDupIndex.reconcile(churnDf, delDf, snap, sigsB, pairsB, ts,
        postings = Some(postB))
      def pset(p: LakeTable) = p.snapshot().select("a", "b", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val (ga, gb) = (pset(pairsA), pset(pairsB))
      assert(ga == gb, s"ts=$ts: postings pairs diverge: " +
        s"only-A=${ga -- gb} only-B=${gb -- ga}")
      ga
    }
    // batch 1: bootstrap — 8 groups × {3,2,2,1,1,1,1,1} members + two
    // near-dup variant docs (900 ~ group0, 901 ~ group1)
    val boot = (0 until 8).flatMap { g =>
      val n = Seq(3, 2, 2, 1, 1, 1, 1, 1)(g)
      (0 until n).map(i => (g * 10L + i, text(g, 0)))
    } ++ Seq((900L, text(0, 1)), (901L, text(1, 1)))
    val p1 = runBoth(boot, Seq.empty, 1L)
    assert(p1.exists { case (a, b, j) => Set(a, b).contains(900L) && j < 1.0 },
      s"fixture must produce a cross pair: $p1")
    // cluster B's posting index and both stores mid-stream: later
    // batches exercise the pruned read paths
    sigsA.cluster(Seq("fp")); sigsB.cluster(Seq("fp"))
    postB.cluster(Seq("bk"))
    // batch 2: delete group0's rep; re-hash group1's rep away; add a
    // smaller-id doc demoting group2's rep
    runBoth(Seq((10L, text(9, 0)), (5L, text(2, 0))), Seq(0L), 2L)
    // batch 3: delete the near-dup variant; re-add a deleted id as a
    // new group member; churn a doc in place (same text = same fp) —
    // forced THROUGH the adaptive cutoff (rep-scan probe, posting
    // writes still maintained)
    sys.props("graft.test.postingProbeCutoff") = "1"
    try runBoth(Seq((0L, text(3, 0)), (21L, text(2, 0))), Seq(901L), 3L)
    finally sys.props.remove("graft.test.postingProbeCutoff")
    // batch 4: drain a whole group — back on the posting probe, which
    // must still be consistent after the cutoff batch's writes
    runBoth(Seq.empty, Seq(20L, 21L, 5L), 4L)
  }

  test("media posting index: probe-from-postings pairs equal the full rep-scan pairs") {
    import graft.queries.MultimodalOps
    def mk(prefix: String, pk: Seq[String], stats: Seq[String]) =
      LakeTable.create(spark, tmpPath(prefix), TableProps(
        prefix, pk, Some("ts"), Seq.empty, tableType = "mor",
        statsColumns = stats))
    val sigsA = mk("meq_sa_", Seq("doc_id"), Seq("hash_hi", "hash_lo", "ts"))
    val pairsA = mk("meq_pa_", Seq("a", "b"), Seq.empty)
    val sigsB = mk("meq_sb_", Seq("doc_id"), Seq("hash_hi", "hash_lo", "ts"))
    val pairsB = mk("meq_pb_", Seq("a", "b"), Seq.empty)
    val postB = mk("meq_ix_", Seq("blk", "doc_id"), Seq("blk", "ts"))
    // payloads ENCODE their hash "hi:lo" — deterministic control over
    // groups (equal hashes) and cross pairs (hamming ≤ 7)
    val hashOf = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("doc_id"),
      expr("try_cast(get(split(decode(payload, 'UTF-8'), ':'), 0) as long)")
        .as("hash_hi"),
      expr("try_cast(get(split(decode(payload, 'UTF-8'), ':'), 1) as long)")
        .as("hash_lo"))
    def pay(hi: Long, lo: Long) = s"$hi:$lo".getBytes("UTF-8")
    def gpay(g: Int) = pay(g * 1000001L + 77, g * 999983L + 13)
    val state = scala.collection.mutable.Map[Long, Array[Byte]]()
    def runBoth(churn: Seq[(Long, Array[Byte])], dels: Seq[Long], ts: Long) = {
      dels.foreach(state.remove)
      churn.foreach { case (d, b) => state(d) = b }
      val churnDf = churn.toDF("doc_id", "payload")
      val delDf = dels.toDF("doc_id")
      MultimodalOps.phashReconcile(churnDf, delDf, sigsA, pairsA, ts, hashOf)
      MultimodalOps.phashReconcile(churnDf, delDf, sigsB, pairsB, ts, hashOf,
        postings = Some(postB))
      def pset(p: LakeTable) = p.snapshot().select("a", "b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val (ga, gb) = (pset(pairsA), pset(pairsB))
      assert(ga == gb, s"ts=$ts: postings pairs diverge: " +
        s"only-A=${ga -- gb} only-B=${gb -- ga}")
      ga
    }
    // bootstrap: 8 groups (sizes 3,2,2,1,...) + near-dup 900 (3 bits
    // off group0) + 901 (2 bits off group1)
    val g0 = (0 * 1000001L + 77, 0 * 999983L + 13)
    val g1 = (1 * 1000001L + 77, 1 * 999983L + 13)
    val boot = (0 until 8).flatMap { g =>
      val n = Seq(3, 2, 2, 1, 1, 1, 1, 1)(g)
      (0 until n).map(i => (g * 10L + i, gpay(g)))
    } ++ Seq((900L, pay(g0._1, g0._2 ^ 0x7L)), (901L, pay(g1._1 ^ 1L, g1._2 ^ 3L)))
    val p1 = runBoth(boot, Seq.empty, 1L)
    assert(p1.exists { case (a, b, h) => Set(a, b).contains(900L) && h > 0 },
      s"fixture must produce a cross pair: $p1")
    sigsA.cluster(Seq("hash_hi", "hash_lo"))
    sigsB.cluster(Seq("hash_hi", "hash_lo"))
    postB.cluster(Seq("blk"))
    // delete group0's rep; re-hash group1's rep far away; demote
    // group2's rep with a smaller id
    runBoth(Seq((10L, pay(-5L, -6L)), (5L, gpay(2))), Seq(0L), 2L)
    // drop the 901 near-dup; undecodable churn (NULL-ish: payload with
    // no colon parses to null halves and must drop out) on 30 —
    // forced THROUGH the adaptive cutoff (rep-scan probe, posting
    // writes still maintained)
    sys.props("graft.test.postingProbeCutoff") = "1"
    try runBoth(Seq((30L, "x".getBytes("UTF-8")), (0L, gpay(3))), Seq(901L), 3L)
    finally sys.props.remove("graft.test.postingProbeCutoff")
    // drain group 2 entirely — back on the posting probe, which must
    // still be consistent after the cutoff batch's writes
    runBoth(Seq.empty, Seq(20L, 21L, 5L), 4L)
  }

  test("decode-census sidecar: rotation bounds the active segment; crash windows lose nothing") {
    import graft.streaming.SignatureMaintenance
    val ckpt = tmpPath("census_rot_")
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(ckpt))
    val n = SignatureMaintenance.MaxSegmentLines * 2 + 37
    def line(i: Int) =
      s"""{"batch":$i,"instant":${i + 1000},"hashed":${i * 2},"dropped":1}"""
    val active = new org.apache.hadoop.fs.Path(
      ckpt, SignatureMaintenance.DecodeStatsFile)
    val tmpF = new org.apache.hadoop.fs.Path(
      ckpt, s".${SignatureMaintenance.DecodeStatsFile}.tmp")
    (0 until n).foreach { i =>
      // every 700th append happens right after a simulated crash
      // between delete(p) and rename(tmp → p): only the temp exists,
      // holding the complete intended content — it must be adopted,
      // never destroyed by the next create(tmp, overwrite)
      if (i > 0 && i % 700 == 0) {
        assert(fs.rename(active, tmpF), "crash simulation rename")
        // a read inside the window still sees every committed line
        assert(SignatureMaintenance.readStats(spark, ckpt).length == i,
          s"readStats in the crash window lost lines at $i")
        // readStats adopts the temp; re-create the window for append
        assert(fs.rename(active, tmpF), "crash simulation re-rename")
      }
      SignatureMaintenance.appendStatsLine(spark, ckpt, line(i))
      ()
    }
    val got = SignatureMaintenance.readStats(spark, ckpt)
    assert(got.map(_._1) == (0 until n).map(_.toLong),
      "census must be complete and in write order across segments")
    assert(got.forall { case (b, i, h, d) =>
      i == b + 1000 && h == b * 2 && d == 1 })
    // the active segment is bounded: per-batch rewrite is O(1), and
    // sealed segments carry the history
    val activeLines = {
      val in = fs.open(active)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }.count(_ == '\n')
    assert(activeLines <= SignatureMaintenance.MaxSegmentLines,
      s"active segment must stay bounded: $activeLines")
    val segs = fs.listStatus(new org.apache.hadoop.fs.Path(ckpt))
      .map(_.getPath.getName).filter(_.matches("_decode_stats\\.\\d+\\.jsonl"))
    assert(segs.length == 2, s"two sealed segments expected: ${segs.toSeq}")
  }

  test("phash reconcile: NULL-hash rows drop out instead of collapsing into one group") {
    import graft.queries.MultimodalOps
    val sigs = LakeTable.create(spark, tmpPath("nh_sigs_"), TableProps(
      "sigs", Seq("doc_id"), Some("ts"), Seq.empty, tableType = "mor"))
    val pairs = LakeTable.create(spark, tmpPath("nh_pairs_"), TableProps(
      "pairs", Seq("a", "b"), Some("ts"), Seq.empty, tableType = "mor"))
    // a hashFn variant that EMITS a row with NULL halves for tiny
    // payloads (instead of the documented emit-no-row contract): the
    // guard must treat it as signature-less, not form a NULL group
    val nullish = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("doc_id"),
      when(length(col("payload")) > 1, xxhash64(col("payload")))
        .as("hash_hi"),
      when(length(col("payload")) > 1, xxhash64(col("payload"), lit(1)))
        .as("hash_lo"))
    def pay(s: String) = s.getBytes("UTF-8")
    val seed = Seq((1L, pay("mm")), (2L, pay("mm")), (8L, pay("x")),
      (9L, pay("y"))).toDF("doc_id", "payload")
    val st = MultimodalOps.phashReconcile(seed,
      Seq.empty[Long].toDF("doc_id"), sigs, pairs, 1L, nullish)
    assert(st.dropped == 2, s"both tiny payloads must count dropped: $st")
    val sigIds = sigs.snapshot().select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(sigIds == Set(1L, 2L), s"NULL-hash docs must leave the store: $sigIds")
    val got = pairs.snapshot().select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)),
      s"NULL-hash docs 8/9 must never pair (shared-NULL group): $got")
  }
}
