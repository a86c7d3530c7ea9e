package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.LakeTable
import graft.util.{DfUtils, FsUtils}

/** Small SURVEY §2 parity items not covered elsewhere: ALTER COLUMN
  * COMMENT (W8), rate source (S9), CSV source (S10), typed Dataset.map
  * (T1), DfUtils/FsUtils helpers (P2/P10/P11, S14/W21). */
class ParitySpec extends AnyFunSuite {
  import TestSpark.{spark, tmpDir, tmpPath}
  import spark.implicits._

  test("W8: ALTER TABLE ... ALTER COLUMN ... COMMENT round-trips") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", "target/graft_warehouse_test")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.cmt")
    spark.sql("""CREATE TABLE graft.db.cmt (id INT, v STRING) USING graft
      TBLPROPERTIES (primaryKey = 'id')""")
    spark.sql("ALTER TABLE graft.db.cmt ALTER COLUMN v COMMENT 'the value column'")
    val desc = spark.sql("DESCRIBE TABLE graft.db.cmt")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("v") == "the value column")
  }

  test("ALTER TABLE ADD COLUMN surfaces on a table with data") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", "target/graft_warehouse_test")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.addc")
    spark.sql("""CREATE TABLE graft.db.addc (id INT, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts')""")
    spark.sql("INSERT INTO graft.db.addc VALUES (1, 100)")
    spark.sql("ALTER TABLE graft.db.addc ADD COLUMN note STRING")
    // new column visible immediately, null for existing rows
    val r = spark.sql("SELECT id, note FROM graft.db.addc").head()
    assert(r.getInt(0) == 1 && r.isNullAt(1))
    // and writable on the next insert
    spark.sql("INSERT INTO graft.db.addc VALUES (2, 100, 'hello')")
    val got = spark.sql("SELECT id, note FROM graft.db.addc ORDER BY id")
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    assert(got == Seq((1, None), (2, Some("hello"))))
  }

  test("S9: rate source feeds the graft streaming sink (Flink datagen shape)") {
    val path = tmpPath("rate_")
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .select(col("value").cast("int").as("user_id"),
        substring(md5(col("value").cast("string")), 1, 5).as("product"),
        (col("value") % 100).cast("double").as("amount"),
        col("value").as("ts"))
      .writeStream.format("graft")
      .option("checkpointLocation", tmpDir("rate_ckpt_"))
      .option("primaryKey", "user_id").option("preCombineField", "ts")
      .start(path)
    try {
      // wait for at least one non-empty micro-batch to commit
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        (!LakeTable.exists(spark, path) ||
          LakeTable.load(spark, path).snapshot().count() == 0)) Thread.sleep(500)
      assert(LakeTable.load(spark, path).snapshot().count() > 0)
    } finally q.stop()
  }

  test("S10: CSV source into a lake table (Flink CSV DDL shape)") {
    val dir = tmpDir("csv_")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "in.csv"),
      "uuid,name,age,ts,part\nu1,n1,30,1,p1\nu2,n2,40,1,p2\nu1,n1b,31,2,p1\n")
    val df = spark.read.option("header", "true")
      .schema("uuid STRING, name STRING, age INT, ts BIGINT, part STRING")
      .csv(dir)
    val path = tmpPath("csvlake_")
    df.write.format("graft")
      .option("primaryKey", "uuid").option("preCombineField", "ts")
      .option("partitionFields", "part").save(path)
    val got = LakeTable.load(spark, path).snapshot()
      .select("uuid", "name").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("u1", "n1b"), ("u2", "n2")))
  }

  test("T1: typed Dataset.map over commit listing (IncrementalQuery.scala:37)") {
    val path = tmpPath("typed_")
    val t = LakeTable.create(spark, path,
      graft.core.TableProps("t", Seq("id"), Some("ts"), Seq.empty))
    t.upsert(Seq((1, 1L)).toDF("id", "ts"))
    t.upsert(Seq((2, 1L)).toDF("id", "ts"))
    val commits = t.commits().select("commit_time")
      .map(_.getString(0)).collect().toSeq // Dataset[String] via encoder
    assert(commits.size == 2 && commits == commits.sorted.reverse)
  }

  test("DfUtils: lowercase columns, cast-all-string, force-nullable") {
    val df = Seq((1, "x")).toDF("Some Col", "OTHER")
    val lc = DfUtils.lowercaseColumns(df)
    assert(lc.columns.toSeq == Seq("somecol", "other"))
    val st = DfUtils.castAllToString(lc)
    assert(st.schema.fields.forall(_.dataType.typeName == "string"))
    val nn = DfUtils.forceNullable(df)
    assert(nn.schema.fields.forall(_.nullable))
  }

  test("FsUtils: listDirs + deletePath") {
    val dir = tmpDir("fs_")
    new java.io.File(dir, "a").mkdirs()
    new java.io.File(dir, "b").mkdirs()
    assert(FsUtils.listDirs(spark, dir).toSet == Set("a", "b"))
    assert(FsUtils.deletePath(spark, dir + "/a"))
    assert(FsUtils.listDirs(spark, dir).toSet == Set("b"))
    assert(!FsUtils.deletePath(spark, dir + "/missing"))
  }

  test("S6/S12/J4: JDBC round-trip with subquery pushdown (embedded Derby)") {
    // the reference's dbtable = "(select ... left join ...) a" shape
    // (SyncCommentsAcrossClusters.scala:126-139) against the Derby
    // jars shipped in /opt/spark/jars — no external DB needed
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE comments (id INT, col_name VARCHAR(64), comment VARCHAR(256))")
      st.executeUpdate("CREATE TABLE cols (id INT, col_name VARCHAR(64), tbl VARCHAR(64))")
      st.executeUpdate("INSERT INTO comments VALUES (1, 'a', 'first'), (2, 'b', 'second'), (3, 'c', NULL)")
      st.executeUpdate("INSERT INTO cols VALUES (1, 'a', 't1'), (2, 'b', 't1'), (4, 'd', 't2')")
      st.close()
    } finally conn.close()
    val pushed = """(SELECT c.id, c.col_name, c.comment, k.tbl
      FROM comments c LEFT JOIN cols k ON c.col_name = k.col_name) a"""
    val df = DfUtils.readJdbc(spark, url, pushed, "", "", driver = driver)
    val got = DfUtils.lowercaseColumns(df)
      .collect().map(r => (r.getInt(0), r.getString(1), Option(r.getString(3)))).toSet
    assert(got == Set((1, "a", Some("t1")), (2, "b", Some("t1")), (3, "c", None)))
    // predicate pushdown reaches the JDBC source: filtered read works
    assert(df.filter(col("ID") === 1).count() == 1)
  }

  test("W20: foreign-catalog sync mirrors tables + partitions with audit") {
    import graft.core.TableProps
    import graft.sql.CatalogSync
    // a "database directory" of path-based lake tables (the shape the
    // DataFrame API produces, invisible to any catalog), plus a
    // non-lake dir the sync must skip
    val srcDb = tmpDir("syncsrc_")
    val t1 = LakeTable.create(spark, s"$srcDb/events",
      TableProps("events", Seq("id"), Some("ts"), Seq("dt")))
    t1.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d2")).toDF("id", "v", "ts", "dt"))
    val t2 = LakeTable.create(spark, s"$srcDb/mor_t",
      TableProps("mor_t", Seq("id"), Some("ts"), Seq("dt"), tableType = "mor"))
    t2.upsert(Seq((1, "x", 1L, "d1")).toDF("id", "v", "ts", "dt"))
    t2.upsert(Seq((1, "x2", 2L, "d1")).toDF("id", "v", "ts", "dt")) // delta
    new java.io.File(s"$srcDb/not_a_table").mkdirs()
    // the target catalog standing in for the external metastore
    val wh = tmpDir("synctgt_")
    spark.conf.set("spark.sql.catalog.graft_hms", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_hms.warehouse", wh)
    val r1 = CatalogSync.syncDatabase(spark, srcDb, "graft_hms", "db",
      syncTime = Some("2026-01-01 00:00:00"))
    assert(r1.map(s => s.tableName -> s.mark).toMap ==
      Map("events" -> "success", "mor_t" -> "success",
        "not_a_table" -> "skipped"))
    // mirrored tables are served by the target catalog's SQL surface;
    // the MOR mirror is checked through the native merged read here
    // because the SQL RT view compacts on read, which would rewrite
    // the mirrored pointers into local base files mid-test
    assert(spark.sql("SELECT v FROM graft_hms.db.events WHERE dt = 'd2'")
      .as[String].collect().toSeq == Seq("b"))
    assert(LakeTable.load(spark, s"$wh/db/mor_t").snapshot()
      .select("v").as[String].collect().toSeq == Seq("x2"))
    // the mixed base+delta mirror landed as ONE sync commit (atomic:
    // a racing reader sees the old mirror or the new one, never base
    // pointers without their deltas) with the delta flags carried
    val morMirror = LakeTable.load(spark, s"$wh/db/mor_t")
    val syncCommits = morMirror.timeline.commits().filter(_.action == "sync")
    assert(syncCommits.size == 1,
      s"expected one atomic sync commit, got ${syncCommits.map(_.action)}")
    val srcDeltas = t2.timeline.liveFiles(None).count(_.delta)
    assert(srcDeltas > 0 &&
      morMirror.timeline.liveFiles(None).count(_.delta) == srcDeltas,
      "mirrored delta files lost their delta flag in the combined commit")
    // incremental re-sync: a new source partition arrives; only the
    // new file is added, and the audit table holds both runs
    t1.upsert(Seq((3, "c", 1L, "d3")).toDF("id", "v", "ts", "dt"))
    val r2 = CatalogSync.syncDatabase(spark, srcDb, "graft_hms", "db",
      syncTime = Some("2026-01-02 00:00:00"))
    val byName = r2.map(s => s.tableName -> s).toMap
    assert(byName("events").mark == "success" &&
      byName("events").filesAdded == 1 && byName("events").filesRemoved == 0)
    assert(byName("mor_t").mark == "up_to_date")
    assert(spark.sql("SELECT v FROM graft_hms.db.events WHERE dt = 'd3'")
      .as[String].collect().toSeq == Seq("c"))
    // source compaction: the mirror drops the replaced delta pointers
    t2.compact()
    val r3 = CatalogSync.syncDatabase(spark, srcDb, "graft_hms", "db",
      syncTime = Some("2026-01-03 00:00:00"))
    assert(r3.map(s => s.tableName -> s).toMap.apply("mor_t").filesRemoved > 0)
    assert(spark.sql("SELECT v FROM graft_hms.db.mor_t")
      .as[String].collect().toSeq == Seq("x2"))
    // audit: one row per table per run (success-mark shape)
    val audit = LakeTable.load(spark, s"$wh/db/sync_audit").snapshot()
    assert(audit.filter(col("mark") === "success" || col("mark") === "up_to_date")
      .count() >= 6)
    assert(audit.select("syncTime").distinct().count() == 3)
    // SQL surface: the same job as a CALL procedure in the target catalog
    val t3 = LakeTable.create(spark, s"$srcDb/extra",
      TableProps("extra", Seq("id"), None, Seq.empty))
    t3.upsert(Seq((1, "z")).toDF("id", "v"))
    val call = spark.sql(
      s"CALL graft_hms.system.sync_database(source_dir => '$srcDb', db => 'db')")
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(call("extra") == "success")
    assert(spark.sql("SELECT v FROM graft_hms.db.extra").as[String].head() == "z")
  }

  test("clean on a mirror never deletes the source table's files") {
    import graft.core.TableProps
    val srcDb = tmpDir("syncclean_")
    val t = LakeTable.create(spark, s"$srcDb/tbl",
      TableProps("tbl", Seq("id"), Some("ts"), Seq.empty))
    t.upsert(Seq((1, "a", 1L)).toDF("id", "v", "ts"))
    val wh = tmpDir("synccleanwh_")
    graft.sql.CatalogSync.syncTable(spark, s"$srcDb/tbl", s"$wh/db/tbl")
    val mirror = LakeTable.load(spark, s"$wh/db/tbl")
    // upserting the mirror rewrites the pointer entry into a LOCAL
    // file, recording the absolute source path as removed...
    mirror.upsert(Seq((1, "b", 2L)).toDF("id", "v", "ts"))
    // ...and a zero-retention clean must treat that foreign reference
    // as forgettable metadata, NEVER as a deletable file: the source
    // table still owns it
    mirror.clean(retainCommits = 0)
    assert(t.snapshot().select("v").as[String].collect().toSeq == Seq("a"),
      "mirror-side clean corrupted the source table")
    assert(mirror.snapshot().select("v").as[String].head() == "b")
    // the forgotten reference does not linger in the removal history:
    // a second clean finds nothing left to do
    assert(mirror.clean(retainCommits = 0).isEmpty)
  }

  test("W15: df.write.saveAsTable append through the graft provider") {
    // SyncCommentsAcrossClusters.scala:111-113 shape: a managed table
    // in the session catalog backed by the graft DSv1 provider
    spark.sql("DROP TABLE IF EXISTS graft_sat")
    Seq((1, "a", 1L)).toDF("id", "v", "ts")
      .write.format("graft")
      .option("primaryKey", "id").option("preCombineField", "ts")
      .mode("append").saveAsTable("graft_sat")
    Seq((2, "b", 1L), (1, "a2", 2L)).toDF("id", "v", "ts")
      .write.format("graft")
      .option("primaryKey", "id").option("preCombineField", "ts")
      .mode("append").saveAsTable("graft_sat")
    // append through the provider is a keyed upsert on the same table
    val got = spark.table("graft_sat").select("id", "v")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "a2"), (2, "b")), s"got $got")
    // the catalog-visible schema is the DATA schema (no meta columns)
    assert(spark.table("graft_sat").columns.toSeq == Seq("id", "v", "ts"))
    // under the hood it is a regular lake table at the catalog location
    val loc = spark.sql("DESCRIBE FORMATTED graft_sat")
      .filter(col("col_name") === "Location").head().getString(1)
    assert(LakeTable.load(spark, loc).snapshot().count() == 2)
    spark.sql("DROP TABLE IF EXISTS graft_sat")
  }
}
