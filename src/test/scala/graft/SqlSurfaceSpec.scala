package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.LakeTable

/** The SQL surface (SURVEY §2.2) driven through spark.sql against the
  * graft DSv2 catalog, plus the path-based format("graft") API. */
class SqlSurfaceSpec extends AnyFunSuite {
  import TestSpark.{spark, tmpDir}
  import spark.implicits._

  private val wh = "target/graft_warehouse_test"
  spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
  spark.conf.set("spark.sql.catalog.graft.warehouse", wh)

  private def sql(s: String) = spark.sql(s)

  test("SQL DDL + DML: create, insert values, insert select union, delete, select") {
    sql("DROP TABLE IF EXISTS graft.db.t1")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    sql("""CREATE TABLE graft.db.t1 (
      id INT, name STRING, price DOUBLE, ts BIGINT, dt STRING
    ) USING graft PARTITIONED BY (dt)
    TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = 'cow')""")

    // W2: insert into values — SparkSQLDemo.scala:56
    sql("INSERT INTO graft.db.t1 VALUES (1,'hudi',10,100,'2022-09-05'),(2,'hudi',10,100,'2022-09-05')")
    // W3: insert into select ... union — :57-61
    sql("""INSERT INTO graft.db.t1
      SELECT 3 AS id, 'hudi' AS name, CAST(10 AS DOUBLE), CAST(100 AS BIGINT), '2022-09-25' UNION
      SELECT 4, 'hudi', 10, 100, '2022-09-25'""")

    val rows = sql("SELECT id, name, price, ts, dt FROM graft.db.t1 ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getString(4)))
    assert(rows.length == 4 && rows.map(_._1).toSeq == Seq(1, 2, 3, 4))

    // metadata columns exposed on demand, hidden from SELECT *
    assert(!sql("SELECT * FROM graft.db.t1").columns.contains("_commit_time"))
    val ct = sql("SELECT _commit_time, _record_key FROM graft.db.t1 WHERE id = 1").head()
    assert(ct.getString(0).length == 17 && ct.getString(1) == "1")

    // W5: delete from ... where — SparkSQLDemo.scala:73-75
    sql("DELETE FROM graft.db.t1 WHERE id = 1")
    assert(sql("SELECT id FROM graft.db.t1").collect().map(_.getInt(0)).toSet == Set(2, 3, 4))

    // filter pushdown on snapshot scan
    assert(sql("SELECT id FROM graft.db.t1 WHERE dt = '2022-09-25'")
      .collect().map(_.getInt(0)).toSet == Set(3, 4))
  }

  test("INSERT INTO is an upsert on the primary key") {
    sql("DROP TABLE IF EXISTS graft.db.t2")
    sql("""CREATE TABLE graft.db.t2 (id INT, v STRING, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts')""")
    sql("INSERT INTO graft.db.t2 VALUES (1,'a',100),(2,'b',100)")
    sql("INSERT INTO graft.db.t2 VALUES (1,'a2',200)")
    val got = sql("SELECT id, v FROM graft.db.t2 ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a2"), (2, "b")))
    // INSERT OVERWRITE replaces contents
    sql("INSERT OVERWRITE graft.db.t2 VALUES (9,'z',1)")
    assert(sql("SELECT id FROM graft.db.t2").collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("CALL graft.system.show_commits") {
    sql("DROP TABLE IF EXISTS graft.db.t3")
    sql("""CREATE TABLE graft.db.t3 (id INT, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts')""")
    sql("INSERT INTO graft.db.t3 VALUES (1,100)")
    sql("INSERT INTO graft.db.t3 VALUES (2,100)")
    val commits = sql("CALL graft.system.show_commits(`table` => 'db.t3')").collect()
    assert(commits.length == 2)
    // newest-first like the reference's show_commits
    assert(commits(0).getString(0) > commits(1).getString(0))
    assert(commits.forall(_.getString(1) == "upsert"))
  }

  test("full SparkSQLDemo sequence through spark.sql incl. UPDATE and MERGE") {
    sql("DROP TABLE IF EXISTS graft.db.demo")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    sql("""CREATE TABLE graft.db.demo (
      id INT, name STRING, price DOUBLE, ts BIGINT, dt STRING
    ) USING graft PARTITIONED BY (dt)
    TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = 'cow')""")
    sql("INSERT INTO graft.db.demo VALUES (1,'hudi',10,100,'2022-09-05'),(2,'hudi',10,100,'2022-09-05')")
    sql("""INSERT INTO graft.db.demo
      SELECT 3 AS id, 'hudi' AS name, CAST(10 AS DOUBLE), CAST(100 AS BIGINT), '2022-09-25' UNION
      SELECT 4, 'hudi', 10, 100, '2022-09-25'""")
    // W4: UPDATE — SparkSQLDemo.scala:69-71
    sql("UPDATE graft.db.demo SET price = 20.0 WHERE id = 1")
    assert(sql("SELECT price FROM graft.db.demo WHERE id = 1").head().getDouble(0) == 20.0)
    // W5: DELETE — :73-75
    sql("DELETE FROM graft.db.demo WHERE id = 1")
    // W6: MERGE — :77-91
    sql("""MERGE INTO graft.db.demo AS t0
      USING (
        SELECT 1 AS id, 'hudi' AS name, CAST(112 AS DOUBLE) AS price, CAST(98 AS BIGINT) AS ts, '2022-09-05' AS dt, 'INSERT' AS opt_type UNION
        SELECT 2, 'hudi_2', 10, 100, '2022-09-05', 'UPDATE' UNION
        SELECT 3, 'hudi', 10, 100, '2021-09-25', 'DELETE'
      ) AS s0
      ON t0.id = s0.id
      WHEN MATCHED AND opt_type != 'DELETE' THEN UPDATE SET t0.id = s0.id, t0.name = s0.name, t0.price = s0.price, t0.ts = s0.ts, t0.dt = s0.dt
      WHEN MATCHED AND opt_type = 'DELETE' THEN DELETE
      WHEN NOT MATCHED AND opt_type != 'DELETE' THEN INSERT (id, name, price, ts, dt) VALUES (s0.id, s0.name, s0.price, s0.ts, s0.dt)""")
    val finalRows = sql("SELECT id, name, price, ts, dt FROM graft.db.demo ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getString(4))).toSet
    assert(finalRows == Set(
      (1, "hudi", 112.0, 98L, "2022-09-05"),
      (2, "hudi_2", 10.0, 100L, "2022-09-05"),
      (4, "hudi", 10.0, 100L, "2022-09-25")), s"got $finalRows")
  }

  test("CALL service procedures: run_compaction, run_clean, archive_commits") {
    sql("DROP TABLE IF EXISTS graft.db.svc")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    sql("""CREATE TABLE graft.db.svc (id INT, v STRING, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = 'mor')""")
    (1 to 5).foreach(i => sql(s"INSERT INTO graft.db.svc VALUES ($i, 'v$i', 1)"))
    sql("INSERT INTO graft.db.svc VALUES (1, 'v1b', 2)")
    // compaction folds the six delta commits into base files
    val inst = sql("CALL graft.system.run_compaction(table => 'db.svc')")
      .head().getString(0)
    assert(inst.length == 17)
    assert(sql("SELECT count(*) FROM graft.db.svc").head().getLong(0) == 5)
    assert(sql("SELECT v FROM graft.db.svc WHERE id = 1").head().getString(0) == "v1b")
    // clean drops the replaced delta files beyond retention
    val cleaned = sql("CALL graft.system.run_clean(table => 'db.svc', retain_commits => 1)")
    assert(cleaned.count() > 0)
    // archive folds old commits into the checkpoint
    val archived = sql(
      "CALL graft.system.archive_commits(table => 'db.svc', min_to_keep => 2, max_to_keep => 3)")
      .head().getInt(0)
    assert(archived > 0)
    assert(sql("CALL graft.system.show_commits(table => 'db.svc')").count() <= 3)
    assert(sql("SELECT count(*) FROM graft.db.svc").head().getLong(0) == 5)
  }

  test("SQL UPDATE on a metadata-bootstrapped table migrates externals first") {
    import graft.core.TableProps
    val srcDir = "target/graft_bs_sql_src"
    LakeTable.drop(spark, srcDir)
    Seq((1, "a", 1L), (2, "b", 1L)).toDF("id", "v", "ts")
      .write.mode("overwrite").parquet(srcDir)
    val path = s"$wh/db/bs1"
    LakeTable.drop(spark, path)
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    LakeTable.bootstrapMetadata(spark, path, srcDir,
      TableProps("bs1", Seq("id"), Some("ts"), Seq.empty))
    // row-level op over external files: they carry no stored meta
    // columns, so the op migrates them to managed form before running
    sql("UPDATE graft.db.bs1 SET v = 'a2' WHERE id = 1")
    val got = sql("SELECT id, v FROM graft.db.bs1 ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "a2"), (2, "b")))
    assert(LakeTable.load(spark, path).timeline.liveFiles(None).forall(!_.external))
    // post-migration, catalog meta columns are real (non-null)
    assert(sql("SELECT _commit_time FROM graft.db.bs1")
      .collect().forall(!_.isNullAt(0)))
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    sql("DROP TABLE IF EXISTS graft.db.tt")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    sql("""CREATE TABLE graft.db.tt (id INT, v STRING, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts')""")
    sql("INSERT INTO graft.db.tt VALUES (1,'old',100)")
    val c1 = sql("CALL graft.system.show_commits(`table` => 'db.tt')")
      .head().getString(0)
    sql("INSERT INTO graft.db.tt VALUES (1,'new',200),(2,'b',100)")
    assert(sql("SELECT count(*) FROM graft.db.tt").head().getLong(0) == 2)
    val versioned = sql(s"SELECT id, v FROM graft.db.tt VERSION AS OF '$c1'")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(versioned == Seq((1, "old")))
    // TIMESTAMP AS OF now → current snapshot
    val nowState = sql(
      "SELECT count(*) FROM graft.db.tt TIMESTAMP AS OF current_timestamp()")
      .head().getLong(0)
    assert(nowState == 2)
  }

  test("format(graft) path API: write modes + snapshot/incremental reads") {
    val path = "target/graft_path_api_test"
    LakeTable.drop(spark, path)
    val w1 = Seq((1, "a", 100L, "d1"), (2, "b", 100L, "d2")).toDF("id", "v", "ts", "dt")
    w1.write.format("graft")
      .option("primaryKey", "id").option("preCombineField", "ts")
      .option("partitionFields", "dt")
      .save(path)
    Seq((2, "b2", 200L, "d2"), (3, "c", 100L, "d1")).toDF("id", "v", "ts", "dt")
      .write.format("graft").mode("append").save(path)

    val snap = spark.read.format("graft").load(path)
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(snap == Seq((1, "a"), (2, "b2"), (3, "c")))

    // incremental after the first commit → only the second batch
    val commits = LakeTable.load(spark, path).timeline.commits()
    val inc = spark.read.format("graft")
      .option("queryType", "incremental")
      .option("beginInstant", commits.head.instant)
      .load(path)
      .select("id").collect().map(_.getInt(0)).toSet
    assert(inc == Set(2, 3))

    // pushdown path: filter + prune through the DSv1 relation
    val pruned = spark.read.format("graft").load(path)
      .filter(col("dt") === "d1").select("id")
      .collect().map(_.getInt(0)).toSet
    assert(pruned == Set(1, 3))

    // delete operation via the writer
    Seq((3, "d1")).toDF("id", "dt").write.format("graft")
      .mode("append").option("operation", "delete").save(path)
    assert(spark.read.format("graft").load(path).count() == 2)
  }

  test("MOR SQL read by name is the real-time merged view") {
    sql("DROP TABLE IF EXISTS graft.db.mor_rt")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    sql("""CREATE TABLE graft.db.mor_rt (id INT, v STRING, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = 'mor')""")
    sql("INSERT INTO graft.db.mor_rt VALUES (1, 'a', 1), (2, 'b', 1)")
    sql("INSERT INTO graft.db.mor_rt VALUES (1, 'a2', 2)") // delta update
    // read immediately after the delta commit: must be merged, not RO
    val rows = sql("SELECT id, v FROM graft.db.mor_rt ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a2"), (2, "b")), s"got $rows")
    // a late-arriving update with a SMALLER ordering value must lose
    sql("INSERT INTO graft.db.mor_rt VALUES (1, 'stale', 0)")
    val v1 = sql("SELECT v FROM graft.db.mor_rt WHERE id = 1").head().getString(0)
    assert(v1 == "a2", s"payload ordering lost: $v1")
  }

  test("MOR SQL read with compactOnRead=false merges without writing") {
    sql("DROP TABLE IF EXISTS graft.db.mor_ro")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    sql("""CREATE TABLE graft.db.mor_ro (id INT, v STRING, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = 'mor')""")
    sql("INSERT INTO graft.db.mor_ro VALUES (1, 'a', 1), (2, 'b', 1)")
    sql("INSERT INTO graft.db.mor_ro VALUES (1, 'a2', 2)") // delta update
    val path = sql("SHOW TBLPROPERTIES graft.db.mor_ro ('path')")
      .head().getString(1)
    val before = core.LakeTable.load(spark, path)
    val commitsBefore = before.timeline.commits().size
    assert(before.timeline.liveFiles(None).exists(_.delta))
    spark.conf.set("spark.graft.mor.compactOnRead", "false")
    try {
      // merged view must be served with the table left untouched
      val rows = sql("SELECT id, v FROM graft.db.mor_ro ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows == Seq((1, "a2"), (2, "b")), s"got $rows")
      // column pruning + filters still answer correctly on the V1 path
      val v = sql("SELECT v FROM graft.db.mor_ro WHERE id = 1")
        .head().getString(0)
      assert(v == "a2")
      val after = core.LakeTable.load(spark, path)
      assert(after.timeline.commits().size == commitsBefore,
        "read-only view must not commit")
      assert(after.timeline.liveFiles(None).exists(_.delta),
        "read-only view must not compact")
    } finally spark.conf.unset("spark.graft.mor.compactOnRead")
    // back to default: compact-on-read folds the deltas
    val rows2 = sql("SELECT id, v FROM graft.db.mor_ro ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows2 == Seq((1, "a2"), (2, "b")))
    assert(!core.LakeTable.load(spark, path).timeline.liveFiles(None).exists(_.delta))
  }

  test("CALL maintain_neardups drives the near-dup index from SQL") {
    for (t <- Seq("nd_docs", "nd_sigs", "nd_pairs"))
      sql(s"DROP TABLE IF EXISTS graft.db.$t")
    sql("""CREATE TABLE graft.db.nd_docs (doc_id BIGINT, text STRING, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'doc_id', preCombineField = 'ts')""")
    sql("""CREATE TABLE graft.db.nd_sigs (doc_id BIGINT, bands ARRAY<STRING>,
        fp STRING, rep BIGINT, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'doc_id', preCombineField = 'ts')""")
    sql("""CREATE TABLE graft.db.nd_pairs (a BIGINT, b BIGINT, jaccard DOUBLE, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'a,b', preCombineField = 'ts')""")
    val famA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val famB = "kilo lima mike november oscar papa quebec romeo sierra tango"
    sql(s"""INSERT INTO graft.db.nd_docs VALUES
      (1, '$famA', 1), (2, '$famA extra', 1), (3, '$famB', 1)""")
    // bootstrap from the full snapshot
    val n1 = sql("""CALL graft.system.maintain_neardups(
      docs_table => 'db.nd_docs', sigs_table => 'db.nd_sigs',
      pairs_table => 'db.nd_pairs', since_instant => '')""").head().getLong(0)
    assert(n1 == 1L)
    def pairSet() = sql("SELECT a, b FROM graft.db.nd_pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet() == Set((1L, 2L)))
    // churn: doc 4 arrives near doc 3; doc 2 rewrites away from doc 1
    val since = sql("CALL graft.system.show_commits(table => 'db.nd_docs')")
      .collect().map(_.getString(0)).max
    sql(s"""INSERT INTO graft.db.nd_docs VALUES
      (4, '$famB more', 2), (2, 'totally different words now here today', 2)""")
    val n2 = sql(s"""CALL graft.system.maintain_neardups(
      docs_table => 'db.nd_docs', sigs_table => 'db.nd_sigs',
      pairs_table => 'db.nd_pairs', since_instant => '$since')""").head().getLong(0)
    assert(n2 == 1L, s"pairs after increment: $n2")
    assert(pairSet() == Set((3L, 4L)))
  }

  test("CALL maintain_media_index drives the perceptual image index from SQL") {
    import graft.multimodal.MediaDecoder
    for (t <- Seq("mi_pay", "mi_sigs", "mi_pairs"))
      sql(s"DROP TABLE IF EXISTS graft.db.$t")
    sql("""CREATE TABLE graft.db.mi_pay (doc_id BIGINT, payload BINARY, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'doc_id', preCombineField = 'ts')""")
    sql("""CREATE TABLE graft.db.mi_sigs (doc_id BIGINT, hash_hi BIGINT,
        hash_lo BIGINT, rep BIGINT, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'doc_id', preCombineField = 'ts')""")
    sql("""CREATE TABLE graft.db.mi_pairs (a BIGINT, b BIGINT, hamming INT, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'a,b', preCombineField = 'ts')""")
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
    def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString
    // docs 1 and 2 share a noise pattern (2 is a brightness re-encode,
    // aHash-invariant); doc 3 is unrelated
    sql(s"""INSERT INTO graft.db.mi_pay VALUES
      (1, X'${hex(img(5, bright = false))}', 1),
      (2, X'${hex(img(5, bright = true))}', 1),
      (3, X'${hex(img(900, bright = false))}', 1)""")
    val r1 = sql("""CALL graft.system.maintain_media_index(
      payloads_table => 'db.mi_pay', sigs_table => 'db.mi_sigs',
      pairs_table => 'db.mi_pairs', modality => 'image',
      since_instant => '')""").head()
    val n1 = r1.getLong(0)
    assert(n1 == 1L)
    // decode census rides the procedure output: 3 churn payloads, all
    // decodable this call
    assert((r1.getLong(1), r1.getLong(2)) == ((3L, 0L)),
      s"census: $r1")
    def pairSet() = sql("SELECT a, b FROM graft.db.mi_pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet() == Set((1L, 2L)))
    // churn: doc 4 arrives as a copy of doc 3; doc 2 re-imaged away
    val since = sql("CALL graft.system.show_commits(table => 'db.mi_pay')")
      .collect().map(_.getString(0)).max
    sql(s"""INSERT INTO graft.db.mi_pay VALUES
      (4, X'${hex(img(900, bright = true))}', 2),
      (2, X'${hex(img(7777, bright = false))}', 2),
      (5, X'00FF00', 2)""")
    val r2 = sql(s"""CALL graft.system.maintain_media_index(
      payloads_table => 'db.mi_pay', sigs_table => 'db.mi_sigs',
      pairs_table => 'db.mi_pairs', modality => 'image',
      since_instant => '$since')""").head()
    val n2 = r2.getLong(0)
    assert(n2 == 1L, s"pairs after increment: $n2")
    assert(pairSet() == Set((3L, 4L)))
    // doc 5's payload is undecodable: the census reports the drop
    // instead of it vanishing silently
    assert((r2.getLong(1), r2.getLong(2)) == ((2L, 1L)),
      s"census: $r2")
    // RE-bootstrap after a payload delete: the stored signature of the
    // departed doc must be tombstoned (delete set = store ∖ snapshot),
    // not silently kept — a kept one could pair against future churn
    sql("DELETE FROM graft.db.mi_pay WHERE doc_id = 3")
    val r3 = sql("""CALL graft.system.maintain_media_index(
      payloads_table => 'db.mi_pay', sigs_table => 'db.mi_sigs',
      pairs_table => 'db.mi_pairs', modality => 'image',
      since_instant => '')""").head()
    val n3 = r3.getLong(0)
    assert(n3 == 0L, s"pairs after re-bootstrap: $n3")
    assert((r3.getLong(1), r3.getLong(2)) == ((3L, 1L)),
      s"census: $r3")
    val sigIds = sql("SELECT doc_id FROM graft.db.mi_sigs")
      .collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(1L, 2L, 4L), s"stale signature survived: $sigIds")
    // malformed modality arguments fail with the crafted syntax error —
    // including NON-POSITIVE numerics ('video:0' would hash every
    // payload to None and a bootstrap would silently EMPTY the store)
    for (bad <- Seq("audio:", "audio:abc", "video", "scent",
        "video:0", "video:-8", "video:54:0", "audio:-1"))
      assert(intercept[Exception](sql(s"""CALL graft.system.maintain_media_index(
        payloads_table => 'db.mi_pay', sigs_table => 'db.mi_sigs',
        pairs_table => 'db.mi_pairs', modality => '$bad',
        since_instant => '')""").collect())
        .getMessage.contains("maintain_media_index"), s"modality '$bad'")
  }

  test("CALL start_maintenance/stop_maintenance drive the streaming services from SQL") {
    import graft.multimodal.MediaDecoder
    for (t <- Seq("sm_pay", "sm_sigs", "sm_pairs", "sm_docs", "sm_tsigs",
        "sm_tpairs"))
      sql(s"DROP TABLE IF EXISTS graft.db.$t")
    sql("""CREATE TABLE graft.db.sm_pay (doc_id BIGINT, payload BINARY, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'doc_id', preCombineField = 'ts')""")
    sql("""CREATE TABLE graft.db.sm_sigs (doc_id BIGINT, hash_hi BIGINT,
        hash_lo BIGINT, rep BIGINT, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'doc_id', preCombineField = 'ts')""")
    sql("""CREATE TABLE graft.db.sm_pairs (a BIGINT, b BIGINT, hamming INT, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'a,b', preCombineField = 'ts')""")
    def img(bright: Boolean): Array[Byte] =
      MediaDecoder.encodeBmp24With(16, 16) { (x, y) =>
        def c(v: Int) = if (bright) math.min(v + 1, 255) else v
        val v = c((x * 41 + y * 59) % 256)
        (v << 16) | (v << 8) | v
      }
    def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString
    sql(s"""INSERT INTO graft.db.sm_pay VALUES
      (1, X'${hex(img(bright = false))}', 1),
      (2, X'${hex(img(bright = true))}', 1)""")
    val ckpt = tmpDir("sm_ckpt_")
    val handle = sql(s"""CALL graft.system.start_maintenance(
      family => 'media', tables => 'db.sm_pay,db.sm_sigs,db.sm_pairs',
      modality => 'image', checkpoint => '$ckpt')""").head().getString(0)
    assert(handle == ckpt)
    try {
      // a second start on a live checkpoint must refuse
      assert(intercept[Exception](sql(s"""CALL graft.system.start_maintenance(
        family => 'media', tables => 'db.sm_pay,db.sm_sigs,db.sm_pairs',
        modality => 'image', checkpoint => '$ckpt')""").collect())
        .getMessage.contains("already running"))
      spark.streams.active.foreach(_.processAllAvailable())
      def pairSet() = sql("SELECT a, b FROM graft.db.sm_pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairSet() == Set((1L, 2L)))
      // live churn lands through the running service
      sql(s"INSERT INTO graft.db.sm_pay VALUES (3, X'${
        hex(img(bright = true))}', 2)")
      spark.streams.active.foreach(_.processAllAvailable())
      // byte-equal aHash ⟹ the skew-collapsed star (1,2), (1,3)
      assert(pairSet() == Set((1L, 2L), (1L, 3L)), pairSet().toString)
    } finally {
      val stopped = sql(s"""CALL graft.system.stop_maintenance(
        handle => '$ckpt')""").head().getBoolean(0)
      assert(stopped, "stop_maintenance did not stop a live service")
    }
    // idempotent: a second stop reports nothing was running
    assert(!sql(s"""CALL graft.system.stop_maintenance(
      handle => '$ckpt')""").head().getBoolean(0))
    // unknown family / wrong table count fail with the crafted message
    assert(intercept[Exception](sql(s"""CALL graft.system.start_maintenance(
      family => 'scent', tables => 'db.sm_pay', modality => '',
      checkpoint => '${ckpt}2')""").collect())
      .getMessage.contains("unknown family"))
    assert(intercept[Exception](sql(s"""CALL graft.system.start_maintenance(
      family => 'neardup', tables => 'db.sm_pay', modality => '',
      checkpoint => '${ckpt}3')""").collect())
      .getMessage.contains("needs 3 tables"))
    // the text family drives NearDupMaintenance end to end
    sql("""CREATE TABLE graft.db.sm_docs (doc_id BIGINT, text STRING, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'doc_id', preCombineField = 'ts')""")
    sql("""CREATE TABLE graft.db.sm_tsigs (doc_id BIGINT, bands ARRAY<STRING>,
        fp STRING, rep BIGINT, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'doc_id', preCombineField = 'ts')""")
    sql("""CREATE TABLE graft.db.sm_tpairs (a BIGINT, b BIGINT, jaccard DOUBLE,
        ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'a,b', preCombineField = 'ts')""")
    sql("""INSERT INTO graft.db.sm_docs VALUES
      (1, 'alpha bravo charlie delta echo foxtrot golf hotel india juliet', 1),
      (2, 'alpha bravo charlie delta echo foxtrot golf hotel india juliet extra', 1)""")
    val ckptT = tmpDir("sm_ckpt_t_")
    sql(s"""CALL graft.system.start_maintenance(
      family => 'neardup', tables => 'db.sm_docs,db.sm_tsigs,db.sm_tpairs',
      modality => '', checkpoint => '$ckptT')""").collect()
    try {
      spark.streams.active.foreach(_.processAllAvailable())
      assert(sql("SELECT a, b FROM graft.db.sm_tpairs").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    } finally sql(s"""CALL graft.system.stop_maintenance(
      handle => '$ckptT')""").collect()
  }

  test("CALL maintain_search_index drives the BM25 index from SQL") {
    for (t <- Seq("si_docs", "si_post", "si_stats", "si_tot"))
      sql(s"DROP TABLE IF EXISTS graft.db.$t")
    sql("""CREATE TABLE graft.db.si_docs (doc_id BIGINT, text STRING, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'doc_id', preCombineField = 'ts')""")
    sql("""CREATE TABLE graft.db.si_post (doc_id BIGINT, term STRING, n BIGINT,
        len BIGINT, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'doc_id,term', preCombineField = 'ts')""")
    sql("""CREATE TABLE graft.db.si_stats (term STRING, df BIGINT, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'term', preCombineField = 'ts')""")
    sql("""CREATE TABLE graft.db.si_tot (id BIGINT, n_docs BIGINT,
        tot_len BIGINT, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts')""")
    sql("""INSERT INTO graft.db.si_docs VALUES
      (1, 'alpha bravo alpha', 1), (2, 'bravo charlie', 1)""")
    // bootstrap from the full snapshot: 4 distinct (doc, term) postings
    val n1 = sql("""CALL graft.system.maintain_search_index(
      docs_table => 'db.si_docs', postings_table => 'db.si_post',
      stats_table => 'db.si_stats', totals_table => 'db.si_tot',
      since_instant => '')""").head().getLong(0)
    assert(n1 == 4L, s"bootstrap postings: $n1")
    def dfOf(term: String) = sql(
      s"SELECT df FROM graft.db.si_stats WHERE term = '$term'")
      .collect().map(_.getLong(0)).toSeq
    assert(dfOf("bravo") == Seq(2L) && dfOf("alpha") == Seq(1L))
    assert(sql("SELECT n_docs, tot_len FROM graft.db.si_tot").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 5L)))
    // churn: doc 1's text REPLACED (alpha vanishes entirely — df drops
    // to 0), doc 3 arrives
    val since = sql("CALL graft.system.show_commits(table => 'db.si_docs')")
      .collect().map(_.getString(0)).max
    sql("""INSERT INTO graft.db.si_docs VALUES
      (1, 'delta echo', 2), (3, 'charlie foxtrot', 2)""")
    sql("""CALL graft.system.maintain_search_index(
      docs_table => 'db.si_docs', postings_table => 'db.si_post',
      stats_table => 'db.si_stats', totals_table => 'db.si_tot',
      since_instant => '""" + since + "')")
    assert(dfOf("alpha") == Seq(0L), "replaced term must fold to df 0")
    assert(dfOf("charlie") == Seq(2L))
    assert(sql("SELECT n_docs, tot_len FROM graft.db.si_tot").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 6L)))
    // a retried/duplicated CALL (same since_instant) must be a no-op:
    // the df/totals folds are increments, so without the per-table
    // replay guard this would double-fold
    sql("""CALL graft.system.maintain_search_index(
      docs_table => 'db.si_docs', postings_table => 'db.si_post',
      stats_table => 'db.si_stats', totals_table => 'db.si_tot',
      since_instant => '""" + since + "')")
    assert(dfOf("charlie") == Seq(2L), "duplicate CALL double-folded df")
    assert(sql("SELECT n_docs, tot_len FROM graft.db.si_tot").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 6L)),
      "duplicate CALL double-folded totals")
    // and a late re-bootstrap (since = '') on the incremented index is
    // rejected by the monotonic guard, not double-applied
    sql("""CALL graft.system.maintain_search_index(
      docs_table => 'db.si_docs', postings_table => 'db.si_post',
      stats_table => 'db.si_stats', totals_table => 'db.si_tot',
      since_instant => '')""")
    assert(sql("SELECT n_docs, tot_len FROM graft.db.si_tot").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 6L)),
      "re-bootstrap was applied over the incremented index")
  }

  test("sketch aggregators are callable from SQL") {
    graft.functions.GraftFunctions.register(spark)
    Seq(1L, 5L, 3L, 5L, 99L).toDF("h").createOrReplaceTempView("sk_in")
    val sk = sql("SELECT graft_kmv64(h) AS s FROM sk_in")
      .head().getSeq[Long](0)
    assert(sk == Seq(1L, 3L, 5L, 99L)) // distinct, sorted k-mins
    Seq((0.9, 1L), (0.7, 2L), (0.9, 0L), (0.1, 3L))
      .toDF("score", "id").createOrReplaceTempView("tk_in")
    val top = sql("SELECT graft_topk10(score, id) AS t FROM tk_in")
      .selectExpr("inline(t)").collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(top == Seq((0.9, 0L), (0.9, 1L), (0.7, 2L), (0.1, 3L)))
  }

  test("catalog contract: rename guards, typed ADD COLUMN, qualified CALL") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    sql("DROP TABLE IF EXISTS graft.db.ct1")
    sql("DROP TABLE IF EXISTS graft.db.ct2")
    sql("""CREATE TABLE graft.db.ct1 (id INT, v STRING, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts')""")
    sql("INSERT INTO graft.db.ct1 VALUES (1,'a',100)")
    // rename onto an existing table must throw, not nest directories
    sql("""CREATE TABLE graft.db.ct2 (id INT, v STRING, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts')""")
    intercept[Exception] {
      sql("ALTER TABLE graft.db.ct1 RENAME TO graft.db.ct2")
    }
    // renaming a nonexistent table must throw, and both tables survive
    intercept[Exception] {
      sql("ALTER TABLE graft.db.ct_missing RENAME TO graft.db.ct3")
    }
    assert(sql("SELECT v FROM graft.db.ct1").collect().map(_.getString(0))
      .toSeq == Seq("a"))
    // a clean rename works and the data follows
    sql("DROP TABLE IF EXISTS graft.db.ct3")
    sql("ALTER TABLE graft.db.ct1 RENAME TO graft.db.ct3")
    assert(sql("SELECT v FROM graft.db.ct3").collect().map(_.getString(0))
      .toSeq == Seq("a"))
    // ADD COLUMN records NOT NULL and the comment instead of dropping them
    sql("ALTER TABLE graft.db.ct3 ADD COLUMN w INT NOT NULL COMMENT 'width'")
    val f = spark.table("graft.db.ct3").schema("w")
    assert(!f.nullable, "ADD COLUMN must honor NOT NULL")
    assert(f.getComment().contains("width"), "ADD COLUMN must keep the comment")
    // the natural fully-qualified CALL spelling resolves
    val commits = sql("CALL graft.system.show_commits('graft.db.ct3')").collect()
    assert(commits.nonEmpty, "qualified CALL ref must resolve")
    sql("DROP TABLE graft.db.ct2")
    sql("DROP TABLE graft.db.ct3")
  }
}
