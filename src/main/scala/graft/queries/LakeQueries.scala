package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{LakeTable, TableProps}
import graft.util.Tables._

/** Lake-table DML surface (SURVEY §2.1-§2.2, §2.9) exposed through the
  * driver gate: each query rebuilds a scratch table from the testdata
  * `customer` table, applies the operation under test, and returns the
  * resulting snapshot; the DuckDB oracle recomputes the expected state
  * relationally from the raw parquet.
  *
  * Determinism: every mutated value is derived with exact decimal
  * arithmetic; every batch keys off `c_custkey` modulo classes; output
  * is the data-column snapshot ordered by key.
  */
object LakeQueries {

  private def props(partitioned: Boolean) = TableProps(
    name = "scratch",
    primaryKey = Seq("c_custkey"),
    preCombineField = Some("ts"),
    partitionFields = if (partitioned) Seq("c_mktsegment") else Seq.empty)

  private def scratch(s: SparkSession, sfDir: String, name: String): String =
    QueryPack.scratchDir(s, sfDir, name)

  private def base(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").withColumn("ts", lit(1L))

  private def dataCols(df: DataFrame): DataFrame =
    df.drop(LakeTable.MetaCols: _*).orderBy(col("c_custkey"))

  /** Keyed upsert → snapshot (W12 + S1: the append2Hudi flow,
    * BootstrapDemo.scala:261-273). */
  private val upsertQ = GQ(
    "lake1_upsert_snapshot",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake1"), props(true))
      tab.upsert(base(s, dir))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 5 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_acctbal", (dec2(col("c_acctbal")) * 2).cast("double"))
        .withColumn("c_name", concat(col("c_name"), lit("_v2"))))
      dataCols(tab.snapshot())
    },
    Some("""SELECT c_custkey,
      CASE WHEN c_custkey % 5 = 0 THEN c_name || '_v2' ELSE c_name END AS c_name,
      c_nationkey,
      CASE WHEN c_custkey % 5 = 0
        THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 2 AS DOUBLE)
        ELSE c_acctbal END AS c_acctbal,
      c_mktsegment,
      CAST(CASE WHEN c_custkey % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
      FROM customer ORDER BY c_custkey"""))

  /** Delete by key (W16 / HoodieJavaWriteClientExample delete flow). */
  private val deleteQ = GQ(
    "lake2_delete",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake2"), props(true))
      tab.upsert(base(s, dir))
      tab.delete(base(s, dir).filter(col("c_custkey") % 7 === 0)
        .select("c_custkey", "c_mktsegment"))
      dataCols(tab.snapshot())
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      CAST(1 AS BIGINT) AS ts
      FROM customer WHERE c_custkey % 7 <> 0 ORDER BY c_custkey"""))

  /** Incremental query, begin-exclusive (S3, IncrementalQuery.scala:48-53):
    * three key-disjoint commits, read everything after the first. */
  private val incrementalQ = GQ(
    "lake3_incremental",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake3"), props(true))
      val c1 = tab.upsert(base(s, dir).filter(col("c_custkey") % 3 === 0))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 3 === 1))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 3 === 2))
      dataCols(tab.incremental(c1))
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      CAST(1 AS BIGINT) AS ts
      FROM customer WHERE c_custkey % 3 <> 0 ORDER BY c_custkey"""))

  /** MERGE INTO with update/delete/insert routing (W6,
    * SparkSQLDemo.scala:77-91 shape). */
  private val mergeQ = GQ(
    "lake4_merge",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake4"), props(true))
      tab.upsert(base(s, dir))
      val matchedPart = base(s, dir).filter(col("c_custkey") % 2 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_acctbal", (dec2(col("c_acctbal")) + 1000).cast("double"))
        .withColumn("c_name", concat(col("c_name"), lit("_m")))
        .withColumn("opt_type",
          when(col("c_custkey") % 10 === 0, lit("DELETE")).otherwise(lit("UPDATE")))
      val insertPart = base(s, dir).filter(col("c_custkey") % 2 === 1)
        .withColumn("ts", lit(2L))
        .withColumn("c_custkey", col("c_custkey") + 1000000000L)
        .withColumn("c_name", concat(col("c_name"), lit("_new")))
        .withColumn("opt_type", lit("INSERT"))
      tab.merge(matchedPart.unionByName(insertPart),
        matchedUpdate = Some(col("opt_type") === "UPDATE"),
        matchedDelete = Some(col("opt_type") === "DELETE"),
        notMatchedInsert = Some(col("opt_type") === "INSERT"))
      dataCols(tab.snapshot())
    },
    Some("""SELECT * FROM (
      SELECT c_custkey,
        CASE WHEN c_custkey % 2 = 0 THEN c_name || '_m' ELSE c_name END AS c_name,
        c_nationkey,
        CASE WHEN c_custkey % 2 = 0
          THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 1000 AS DOUBLE)
          ELSE c_acctbal END AS c_acctbal,
        c_mktsegment,
        CAST(CASE WHEN c_custkey % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
      FROM customer WHERE NOT (c_custkey % 2 = 0 AND c_custkey % 10 = 0)
      UNION ALL
      SELECT c_custkey + 1000000000, c_name || '_new', c_nationkey, c_acctbal,
        c_mktsegment, CAST(2 AS BIGINT) AS ts
      FROM customer WHERE c_custkey % 2 = 1
      ) ORDER BY c_custkey"""))

  /** Additive schema evolution on upsert (§1.3, Configurations.java:35-42). */
  private val evolutionQ = GQ(
    "lake5_schema_evolution",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake5"), props(true))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 2 === 0))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 2 === 1)
        .withColumn("bonus", (col("c_custkey") * 2).cast("long")))
      dataCols(tab.snapshot())
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      CAST(1 AS BIGINT) AS ts,
      CASE WHEN c_custkey % 2 = 1 THEN c_custkey * 2 END AS bonus
      FROM customer ORDER BY c_custkey"""))

  /** Commit-timeline listing (C1 `call show_commits`): deterministic
    * projection (action, record counts) of three disjoint commits. */
  private val commitsQ = GQ(
    "lake6_show_commits",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake6"), props(true))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 4 === 0))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 4 === 1))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 4 > 1))
      tab.commits().select(col("action"), col("total_records"))
        .orderBy(col("total_records"))
    },
    Some("""SELECT 'upsert' AS action, count(*) AS total_records
        FROM customer WHERE c_custkey % 4 = 0
      UNION ALL
      SELECT 'upsert', count(*) FROM customer WHERE c_custkey % 4 = 1
      UNION ALL
      SELECT 'upsert', count(*) FROM customer WHERE c_custkey % 4 > 1
      ORDER BY total_records"""))

  /** Full bootstrap of an existing parquet directory (W14,
    * BootstrapDemo.scala:234-259): rewrite into managed table, then
    * upsert-append on top (the :66 append flow). */
  private val bootstrapQ = GQ(
    "lake7_bootstrap",
    (s, dir) => {
      val srcDir = scratch(s, dir, "lake7src")
      base(s, dir).filter(col("c_custkey") % 3 =!= 0)
        .write.mode("overwrite").parquet(srcDir)
      val tab = LakeTable.bootstrapFull(
        s, scratch(s, dir, "lake7"), srcDir, props(true))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 3 === 0)
        .withColumn("ts", lit(2L)))
      dataCols(tab.snapshot())
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      CAST(CASE WHEN c_custkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
      FROM customer ORDER BY c_custkey"""))

  /** Time travel: snapshot as of an earlier instant (S1 + Hudi
    * as-of semantics): state before the second upsert. */
  private val timeTravelQ = GQ(
    "lake8_time_travel",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake8"), props(true))
      val c1 = tab.upsert(base(s, dir))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 5 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_name", concat(col("c_name"), lit("_v2"))))
      dataCols(tab.snapshot(Some(c1)))
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      CAST(1 AS BIGINT) AS ts
      FROM customer ORDER BY c_custkey"""))

  /** Partition-pruned snapshot (SnapshotWhere — the driver-side
    * partition pruning path; §2.1 S2 glob-scan analog). */
  private val pruneQ = GQ(
    "lake9_partition_pruned",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake9"), props(true))
      tab.upsert(base(s, dir))
      dataCols(tab.snapshotWhere(_ == "c_mktsegment=BUILDING"))
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      CAST(1 AS BIGINT) AS ts
      FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey"""))

  /** MOR table: delta-append upserts + tombstone delete, merged on
    * read (ST6/TestStreamingMOR semantics; commit-ordered merge). */
  private val morQ = GQ(
    "lake10_mor_read",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake10"),
        props(true).copy(tableType = "mor"))
      tab.upsert(base(s, dir))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 5 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_name", concat(col("c_name"), lit("_v2"))))
      tab.delete(base(s, dir).filter(col("c_custkey") % 7 === 0)
        .select("c_custkey", "c_mktsegment"))
      dataCols(tab.snapshot())
    },
    Some("""SELECT c_custkey,
      CASE WHEN c_custkey % 5 = 0 THEN c_name || '_v2' ELSE c_name END AS c_name,
      c_nationkey, c_acctbal, c_mktsegment,
      CAST(CASE WHEN c_custkey % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
      FROM customer WHERE c_custkey % 7 <> 0 ORDER BY c_custkey"""))

  /** Bucket-indexed upsert (`hoodie.bucket.index.num.buckets=4`,
    * TestStreamingMOR.java:52-53): keys route to fixed hash buckets,
    * so the second upsert resolves its affected files driver-side with
    * no probe scan; results must equal the probe-indexed path. */
  private val bucketQ = GQ(
    "lake11_bucket_index",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake11"),
        props(true).copy(bucketIndexBuckets = 4))
      tab.upsert(base(s, dir))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 6 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_name", concat(col("c_name"), lit("_b"))))
      tab.delete(base(s, dir).filter(col("c_custkey") % 11 === 0)
        .select("c_custkey", "c_mktsegment"))
      dataCols(tab.snapshot())
    },
    Some("""SELECT c_custkey,
      CASE WHEN c_custkey % 6 = 0 THEN c_name || '_b' ELSE c_name END AS c_name,
      c_nationkey, c_acctbal, c_mktsegment,
      CAST(CASE WHEN c_custkey % 6 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
      FROM customer WHERE c_custkey % 11 <> 0 ORDER BY c_custkey"""))

  /** MOR real-time view through the SQL catalog (TestBatchMOR.java:52-58):
    * SQL INSERTs land as delta commits; a SELECT by table name
    * immediately afterwards must return the MERGED state (latest ts per
    * key), not the read-optimized base files. Exercises the
    * compact-on-read path in [[graft.sql.GraftTable.newScanBuilder]]. */
  private val morRtSqlQ = GQ(
    "lake12_mor_rt_sql",
    (s, dir) => {
      val tbl = QueryPack.catalogTable(s, dir, "lake12")
      s.sql(s"""CREATE TABLE $tbl (
        c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, ts BIGINT)
        USING graft TBLPROPERTIES (
          primaryKey = 'c_custkey', preCombineField = 'ts', type = 'mor')""")
      base(s, dir).select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .createOrReplaceTempView("lake12_src")
      s.sql(s"""INSERT INTO $tbl
        SELECT c_custkey, c_name, c_acctbal, CAST(1 AS BIGINT) FROM lake12_src""")
      s.sql(s"""INSERT INTO $tbl
        SELECT c_custkey, c_name || '_v2', c_acctbal, CAST(2 AS BIGINT)
        FROM lake12_src WHERE c_custkey % 3 = 0""")
      // read by NAME right after the delta commit: must be merged
      s.sql(s"SELECT c_custkey, c_name, c_acctbal, ts FROM $tbl ORDER BY c_custkey")
    },
    Some("""SELECT c_custkey,
      CASE WHEN c_custkey % 3 = 0 THEN c_name || '_v2' ELSE c_name END AS c_name,
      c_acctbal,
      CAST(CASE WHEN c_custkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
      FROM customer ORDER BY c_custkey"""))

  /** Clustering service (`call run_clustering` analog): interleaved
    * upserts shred key locality across files; cluster() rewrites the
    * live set ordered by the record key (one replace commit), after
    * which the snapshot is unchanged row-for-row — the oracle pins
    * that clustering is a pure physical reorganization. Pruning
    * improvement is pinned in TableServicesSpec (disjoint per-file
    * key ranges, smaller probe candidate sets). */
  private val clusterQ = GQ(
    "lake13_clustering",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake13"), props(false))
      // three interleaved mod-classes: every file spans the whole key range
      tab.upsert(base(s, dir).filter(col("c_custkey") % 3 === 0))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 3 === 1))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 3 === 2))
      tab.cluster()
      dataCols(tab.snapshot())
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      CAST(1 AS BIGINT) AS ts
      FROM customer ORDER BY c_custkey"""))

  /** Restore/rollback (`call rollback_to_savepoint` analog): after an
    * upsert and a delete, restore to the first commit — the snapshot
    * must be exactly the original state, as one replace commit. */
  private val restoreQ = GQ(
    "lake14_restore",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake14"), props(true))
      val c1 = tab.upsert(base(s, dir))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 4 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_name", concat(col("c_name"), lit("_v2"))))
      tab.delete(base(s, dir).filter(col("c_custkey") % 9 === 0)
        .select("c_custkey", "c_mktsegment"))
      tab.restoreTo(c1)
      dataCols(tab.snapshot())
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      CAST(1 AS BIGINT) AS ts
      FROM customer ORDER BY c_custkey"""))

  /** Z-order clustering: like lake13 but the rewrite interleaves two
    * numeric dimensions (Morton order) so per-file ranges are tight on
    * BOTH; the oracle pins it is a pure physical reorganization, the
    * 2-D locality itself is pinned in TableServicesSpec. */
  private val zorderQ = GQ(
    "lake15_zorder",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake15"), props(false))
      tab.upsert(base(s, dir))
      tab.zorderCluster(Seq("c_acctbal", "c_nationkey"))
      dataCols(tab.snapshot())
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      CAST(1 AS BIGINT) AS ts
      FROM customer ORDER BY c_custkey"""))

  /** CDC read (Hudi `cdc` query-type analog; the reference's
    * incremental reads surface only upserted rows,
    * IncrementalQuery.scala:48-53 — CDC adds deletes and before
    * images): seed all customers, then update (%4), delete (%9, some
    * of which were also updated — net DELETE with the BEGIN-state
    * before image), and insert fresh keys (%13 → +1,000,000). The
    * feed must be exactly the net per-key changes. */
  private val cdcQ = GQ(
    "lake16_cdc",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake16"), props(true))
      val c1 = tab.upsert(base(s, dir))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 4 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_acctbal", (dec2(col("c_acctbal")) + 50).cast("double"))
        .withColumn("c_name", concat(col("c_name"), lit("_u"))))
      tab.delete(base(s, dir).filter(col("c_custkey") % 9 === 0)
        .select("c_custkey", "c_mktsegment"))
      tab.insert(base(s, dir).filter(col("c_custkey") % 13 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000000L)
        .withColumn("c_name", concat(col("c_name"), lit("_new"))))
      val before = col(LakeTable.BeforeImageCol)
      tab.cdc(c1)
        .select(col(LakeTable.ChangeOpCol).as("op"),
          coalesce(col("c_custkey"), before.getField("c_custkey"))
            .as("c_custkey"),
          col("c_name"), col("c_acctbal"),
          before.getField("c_name").as("before_name"),
          before.getField("c_acctbal").as("before_acctbal"))
        .orderBy("c_custkey", "op")
    },
    Some("""WITH ins AS (
        SELECT 'i' AS op, c_custkey + 1000000000 AS c_custkey,
          c_name || '_new' AS c_name, c_acctbal,
          CAST(NULL AS VARCHAR) AS before_name,
          CAST(NULL AS DOUBLE) AS before_acctbal
        FROM customer WHERE c_custkey % 13 = 0
      ), upd AS (
        SELECT 'u' AS op, c_custkey, c_name || '_u' AS c_name,
          CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 50 AS DOUBLE) AS c_acctbal,
          c_name AS before_name, c_acctbal AS before_acctbal
        FROM customer WHERE c_custkey % 4 = 0 AND c_custkey % 9 <> 0
      ), del AS (
        SELECT 'd' AS op, c_custkey, CAST(NULL AS VARCHAR) AS c_name,
          CAST(NULL AS DOUBLE) AS c_acctbal,
          c_name AS before_name, c_acctbal AS before_acctbal
        FROM customer WHERE c_custkey % 9 = 0
      )
      SELECT * FROM ins UNION ALL SELECT * FROM upd UNION ALL
      SELECT * FROM del ORDER BY c_custkey, op"""))

  /** pipe3 — incremental materialized-view maintenance off the CDC
    * feed: a per-segment (count, exact-decimal sum) aggregate table is
    * built once, then — after updates, deletes, and inserts land on
    * the base table — refreshed by folding ONLY the change feed's
    * per-group deltas into the stored rows (op='i' adds the after
    * image, 'd' subtracts the before image, 'u' adds the difference).
    * The oracle is the full recompute of the final state, so the gate
    * pins incremental == full. At 100 TB this is the whole point of
    * CDC: the refresh costs O(churn) + O(touched groups), never a base
    * scan. All sums are DECIMAL(18,2) — associative and exact, so
    * delta folding cannot drift from the recompute. */
  private val mvQ = GQ(
    "pipe3_incremental_mv",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "pipe3"), props(true))
      val c1 = tab.upsert(base(s, dir))
      val mv = LakeTable.create(s, scratch(s, dir, "pipe3mv"),
        TableProps("pipe3mv", Seq("c_mktsegment"), None, Seq.empty))
      // pin the bootstrap snapshot plan (snapshot() resolves its
      // live-file list eagerly) BEFORE the change stream lands, then
      // run the MV bootstrap concurrently with the three DML commits —
      // disjoint tables; the CDC fold below needs both chains done
      val snap0 = tab.snapshot()
      QueryPack.overlapping(Seq(mv.basePath), Seq(tab.basePath)) {
        mv.upsert(snap0
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("cnt"),
            sum(dec2(col("c_acctbal"))).cast("decimal(18,2)").as("sum_bal")))
      } {
        // the change stream: update %5 (double the balance), delete %8
        // (including some updated rows — net deletes), insert fresh %17
        tab.upsert(base(s, dir).filter(col("c_custkey") % 5 === 0)
          .withColumn("ts", lit(2L))
          .withColumn("c_acctbal", (dec2(col("c_acctbal")) * 2).cast("double")))
        tab.delete(base(s, dir).filter(col("c_custkey") % 8 === 0)
          .select("c_custkey", "c_mktsegment"))
        tab.insert(base(s, dir).filter(col("c_custkey") % 17 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000000L))
      }
      val op = col(LakeTable.ChangeOpCol)
      val bef = col(LakeTable.BeforeImageCol)
      val deltas = tab.cdc(c1)
        .groupBy(coalesce(col("c_mktsegment"), bef.getField("c_mktsegment"))
          .as("c_mktsegment"))
        .agg(
          sum(when(op === "i", 1L).when(op === "d", -1L).otherwise(0L))
            .as("dcnt"),
          sum(when(op === "i", dec2(col("c_acctbal")))
            .when(op === "d", -dec2(bef.getField("c_acctbal")))
            .otherwise(dec2(col("c_acctbal")) - dec2(bef.getField("c_acctbal"))))
            .cast("decimal(18,2)").as("dsum"))
      val stored = mv.snapshot().drop(LakeTable.MetaCols: _*)
      // persist the fold: its lineage is the whole CDC read + two
      // joins, and the upsert consumes it twice (write probe + merge
      // write) — one materialization of O(groups) rows vs recomputing
      // the churn scan per consumer
      val folded = stored.join(deltas, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L)))
            .as("cnt"),
          (coalesce(col("sum_bal"), lit(BigDecimal(0))) +
            coalesce(col("dsum"), lit(BigDecimal(0))))
            .cast("decimal(18,2)").as("sum_bal"))
        .persist()
      // a group whose members ALL churned away folds to cnt=0 — the
      // full recompute (the MV's contract and the oracle) has no such
      // group, so it must leave the MV as a tombstone, not a zero row.
      // Unreachable with this gate's churn masks; load-bearing for the
      // fold as a reusable shape.
      try mv.upsertWithDeletes(
        folded.filter(col("cnt") =!= 0L),
        folded.filter(col("cnt") === 0L).select("c_mktsegment"))
      finally folded.unpersist()
      mv.snapshot().drop(LakeTable.MetaCols: _*)
        .select(col("c_mktsegment"), col("cnt"),
          col("sum_bal").cast("double").as("sum_bal"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH fin AS (
        SELECT c_mktsegment,
          CASE WHEN c_custkey % 5 = 0
            THEN CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 2 AS DOUBLE) AS DECIMAL(18,2))
            ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS bal
        FROM customer WHERE c_custkey % 8 <> 0
        UNION ALL
        SELECT c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer WHERE c_custkey % 17 = 0)
      SELECT c_mktsegment, count(*) AS cnt, CAST(sum(bal) AS DOUBLE) AS sum_bal
      FROM fin GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Savepoint + clean + time travel (`call create_savepoint` analog):
    * pin the post-update instant, delete rows, clean with ZERO
    * retention — the pinned snapshot must still read exactly, even
    * though every other replaced version is reclaimed. */
  private val savepointQ = GQ(
    "lake17_savepoint_travel",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake17"), props(true))
      tab.upsert(base(s, dir))
      val sp = tab.upsert(base(s, dir).filter(col("c_custkey") % 6 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_name", concat(col("c_name"), lit("_s"))))
      tab.createSavepoint(sp)
      tab.delete(base(s, dir).filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_mktsegment"))
      tab.clean(retainCommits = 0)
      dataCols(tab.snapshot(Some(sp)))
    },
    Some("""SELECT c_custkey,
      CASE WHEN c_custkey % 6 = 0 THEN c_name || '_s' ELSE c_name END AS c_name,
      c_nationkey, c_acctbal, c_mktsegment,
      CAST(CASE WHEN c_custkey % 6 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
      FROM customer ORDER BY c_custkey"""))

  /** Predicate (non-keyed) DML — W4/W5 through the native path — on
    * BOTH table types in one gate: COW rewrites only files holding
    * matches; MOR evaluates the predicate on the merged view of the
    * reachable file groups and appends O(matched rows) of delta /
    * tombstone rows — no base file rewrite. The MOR variant layers a
    * delta commit over the base so the DML really exercises the
    * merged-view matching path. */
  private val predicateDmlQ = GQ(
    "lake18_predicate_dml",
    (s, dir) => {
      val hitU = col("c_mktsegment") === "BUILDING" && col("c_custkey") % 3 === 0
      val hitD = col("c_mktsegment") === "MACHINERY" && col("c_custkey") % 4 === 0
      val cow = LakeTable.create(s, scratch(s, dir, "lake18_cow"), props(true))
      val mor = LakeTable.create(s, scratch(s, dir, "lake18_mor"),
        props(true).copy(tableType = "mor"))
      // the COW and MOR DML chains touch DISJOINT tables and share
      // only the read-only base parquet — run them concurrently (the
      // pipe6 state-write shape): each chain stays internally serial,
      // so the per-variant semantics are unchanged, but the gate pays
      // ~max(chain) instead of sum
      QueryPack.overlapping(
          Seq(mor.basePath), Seq(cow.basePath)) {
        mor.upsert(base(s, dir))
        mor.upsert(base(s, dir).filter(col("c_custkey") % 5 === 0)
          .withColumn("ts", lit(2L))
          .withColumn("c_acctbal", (dec2(col("c_acctbal")) * 2).cast("double")))
        mor.updateWhere(hitU, Map(
          "c_name" -> concat(col("c_name"), lit("_u"))))
        mor.deleteWhere(hitD)
      } {
        cow.upsert(base(s, dir))
        cow.updateWhere(hitU, Map(
          "c_acctbal" -> (dec2(col("c_acctbal")) + 500).cast("double"),
          "c_name" -> concat(col("c_name"), lit("_u"))))
        cow.deleteWhere(hitD)
      }
      dataCols(cow.snapshot()).withColumn("variant", lit("cow"))
        .unionByName(dataCols(mor.snapshot()).withColumn("variant", lit("mor")))
        .orderBy("variant", "c_custkey")
    },
    Some("""WITH cow AS (
        SELECT c_custkey,
          CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey % 3 = 0
            THEN c_name || '_u' ELSE c_name END AS c_name,
          c_nationkey,
          CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey % 3 = 0
            THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 500 AS DOUBLE)
            ELSE c_acctbal END AS c_acctbal,
          c_mktsegment, CAST(1 AS BIGINT) AS ts, 'cow' AS variant
        FROM customer
        WHERE NOT (c_mktsegment = 'MACHINERY' AND c_custkey % 4 = 0)),
      mor0 AS (
        SELECT c_custkey, c_name, c_nationkey,
          CASE WHEN c_custkey % 5 = 0
            THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 2 AS DOUBLE)
            ELSE c_acctbal END AS c_acctbal,
          c_mktsegment,
          CAST(CASE WHEN c_custkey % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
        FROM customer),
      mor AS (
        SELECT c_custkey,
          CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey % 3 = 0
            THEN c_name || '_u' ELSE c_name END AS c_name,
          c_nationkey, c_acctbal, c_mktsegment, ts, 'mor' AS variant
        FROM mor0
        WHERE NOT (c_mktsegment = 'MACHINERY' AND c_custkey % 4 = 0))
      SELECT * FROM cow UNION ALL SELECT * FROM mor
      ORDER BY variant, c_custkey"""))

  /** Optimistic concurrency, cross-instance (SURVEY §7(f) exceeded —
    * the reference assumes a single writer; at 100 TB concurrent
    * ingest is the norm): two INDEPENDENT table handles (own Timeline
    * instances, the cross-process shape) upsert disjoint key ranges
    * whose keys interleave through the SAME files, so both commits
    * remove the same file groups. The loser's commit raises a
    * conflict; `withOcc` re-runs it against the fresh state, re-probes,
    * and merges with the winner's output. Final state must equal the
    * sequential result — disjoint keys make it order-independent. */
  private val occQ = GQ(
    "lake19_concurrent_writers",
    (s, dir) => {
      val p = scratch(s, dir, "lake19")
      val tab = LakeTable.create(s, p, props(true))
      tab.upsert(base(s, dir)) // seed: every file spans both mod classes
      val w1 = LakeTable.load(s, p)
      val w2 = LakeTable.load(s, p)
      def batch(mod: Int, sfx: String) =
        base(s, dir).filter(col("c_custkey") % 2 === mod)
          .withColumn("ts", lit(2L))
          .withColumn("c_name", concat(col("c_name"), lit(sfx)))
      import scala.concurrent.Await
      import scala.concurrent.duration._
      import org.apache.spark.sql.graftshim.SubmitterFuture
      val f1 = SubmitterFuture(w1.withOcc()(w1.upsert(batch(0, "_w1"))))
      val f2 = SubmitterFuture(w2.withOcc()(w2.upsert(batch(1, "_w2"))))
      // ready BOTH before extracting either result: rethrowing f1's
      // failure with f2 still committing would abandon a lake write
      // unsupervised (the hazard QueryPack.overlapping documents)
      Await.ready(f1, 10.minutes); Await.ready(f2, 10.minutes)
      Await.result(f1, 1.second)
      Await.result(f2, 1.second)
      dataCols(tab.snapshot())
    },
    Some("""SELECT c_custkey,
      c_name || CASE WHEN c_custkey % 2 = 0 THEN '_w1' ELSE '_w2' END AS c_name,
      c_nationkey, c_acctbal, c_mktsegment, CAST(2 AS BIGINT) AS ts
      FROM customer ORDER BY c_custkey"""))

  /** Vacuum service as a gate query: plant a crashed writer's
    * leftovers (an abandoned staged dir AND a moved-but-never-
    * committed data file, both aged past the threshold), run
    * [[LakeTable.cleanOrphans]], then prove in ONE oracle-checked
    * result that the orphans are gone while snapshot, time travel,
    * and CDC are untouched — vacuum must never eat a referenced
    * version. */
  private val vacuumQ = GQ(
    "lake20_vacuum",
    (s, dir) => {
      val p = scratch(s, dir, "lake20")
      val tab = LakeTable.create(s, p, props(true))
      val c1 = tab.upsert(base(s, dir))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 5 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_name", concat(col("c_name"), lit("_v2"))))
      val conf = s.sessionState.newHadoopConf()
      val qp = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(conf).makeQualified(hp)
      }
      val fs = qp.getFileSystem(conf)
      val stagedDir = new org.apache.hadoop.fs.Path(qp,
        ".staging/19700101000000000_deadbeef")
      val orphanStaged =
        new org.apache.hadoop.fs.Path(stagedDir, "part-00000.parquet")
      val orphanMoved = new org.apache.hadoop.fs.Path(qp,
        "c_mktsegment=BUILDING/19700101000000000_deadbeef_00000.parquet")
      val dayAgo = System.currentTimeMillis() - 86400000L
      Seq(orphanStaged, orphanMoved).foreach { o =>
        val out = fs.create(o, true)
        out.write(Array[Byte](0x50, 0x41, 0x52, 0x31))
        out.close()
        fs.setTimes(o, dayAgo, -1)
      }
      fs.setTimes(stagedDir, dayAgo, -1) // staged-dir reap keys off DIR mtime
      val deleted = tab.cleanOrphans(olderThanMs = 3600000L)
      require(deleted.size == 2 &&
        !fs.exists(orphanStaged) && !fs.exists(orphanMoved),
        s"vacuum should reap exactly the two planted orphans, got $deleted")
      def shape(df: DataFrame, variant: String) =
        df.select(lit(variant).as("variant"), col("c_custkey"), col("c_name"),
          col("ts"))
      shape(tab.snapshot(), "snap")
        .unionByName(shape(tab.snapshot(Some(c1)), "tt"))
        .unionByName(tab.cdc(c1).select(
          concat(lit("cdc_"), col(LakeTable.ChangeOpCol)).as("variant"),
          col("c_custkey"), col("c_name"), col("ts")))
        .orderBy("variant", "c_custkey")
    },
    Some("""WITH snap AS (
        SELECT 'snap' AS variant, c_custkey,
          CASE WHEN c_custkey % 5 = 0 THEN c_name || '_v2' ELSE c_name END AS c_name,
          CAST(CASE WHEN c_custkey % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
        FROM customer
      ), tt AS (
        SELECT 'tt' AS variant, c_custkey, c_name, CAST(1 AS BIGINT) AS ts
        FROM customer
      ), cdc AS (
        SELECT 'cdc_u' AS variant, c_custkey, c_name || '_v2' AS c_name,
          CAST(2 AS BIGINT) AS ts
        FROM customer WHERE c_custkey % 5 = 0
      )
      SELECT * FROM snap UNION ALL SELECT * FROM tt UNION ALL SELECT * FROM cdc
      ORDER BY variant, c_custkey"""))

  /** CDC whose BEGIN state sits exactly on the archive boundary: three
    * commits (seed, update, delete) are folded into the timeline
    * checkpoint mid-scenario, then more DML lands, and `cdc(begin)`
    * must still produce the exact net changes — the checkpoint's
    * FileEntry rows keep their ORIGINAL commit instants
    * (Timeline.CheckpointMeta fold-forward), which is what lets the
    * before-image and churn detection work when the begin-side commits
    * no longer exist as JSON. */
  private val cdcArchiveQ = GQ(
    "lake21_cdc_archive",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake21"), props(true))
      tab.upsert(base(s, dir))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 4 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_acctbal", (dec2(col("c_acctbal")) + 50).cast("double"))
        .withColumn("c_name", concat(col("c_name"), lit("_u2"))))
      val begin = tab.delete(base(s, dir).filter(col("c_custkey") % 9 === 0)
        .select("c_custkey", "c_mktsegment"))
      // post-begin churn: update %6 (resurrects %6∩%9 — upsert inserts
      // absent keys), delete %11, insert fresh %13 keys
      tab.upsert(base(s, dir).filter(col("c_custkey") % 6 === 0)
        .withColumn("ts", lit(3L))
        .withColumn("c_acctbal", (dec2(col("c_acctbal")) * 2).cast("double"))
        .withColumn("c_name", concat(col("c_name"), lit("_u4"))))
      // fold [seed, update, delete] into the checkpoint: 4 commits
      // active, keep 1 → asOf lands exactly on `begin`
      val archived = tab.archive(minToKeep = 1, maxToKeep = 3)
      require(archived == 3, s"expected 3 commits archived, got $archived")
      tab.delete(base(s, dir).filter(col("c_custkey") % 11 === 0)
        .select("c_custkey", "c_mktsegment"))
      tab.insert(base(s, dir).filter(col("c_custkey") % 13 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000000L)
        .withColumn("ts", lit(4L))
        .withColumn("c_name", concat(col("c_name"), lit("_new"))))
      val before = col(LakeTable.BeforeImageCol)
      tab.cdc(begin)
        .select(col(LakeTable.ChangeOpCol).as("op"),
          coalesce(col("c_custkey"), before.getField("c_custkey"))
            .as("c_custkey"),
          col("c_name"), col("c_acctbal"), col("ts"),
          before.getField("c_name").as("before_name"),
          before.getField("c_acctbal").as("before_acctbal"))
        .orderBy("c_custkey", "op")
    },
    Some("""WITH beforeState AS (
        SELECT c_custkey,
          CASE WHEN c_custkey % 4 = 0 THEN c_name || '_u2' ELSE c_name END AS c_name,
          CASE WHEN c_custkey % 4 = 0
            THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 50 AS DOUBLE)
            ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 9 <> 0
      ), upd AS (
        SELECT 'u' AS op, c.c_custkey, c.c_name || '_u4' AS c_name,
          CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 2 AS DOUBLE) AS c_acctbal,
          CAST(3 AS BIGINT) AS ts,
          b.c_name AS before_name, b.c_acctbal AS before_acctbal
        FROM customer c JOIN beforeState b USING (c_custkey)
        WHERE c.c_custkey % 6 = 0 AND c.c_custkey % 11 <> 0
      ), res AS (
        SELECT 'i' AS op, c_custkey, c_name || '_u4' AS c_name,
          CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 2 AS DOUBLE) AS c_acctbal,
          CAST(3 AS BIGINT) AS ts,
          CAST(NULL AS VARCHAR) AS before_name,
          CAST(NULL AS DOUBLE) AS before_acctbal
        FROM customer
        WHERE c_custkey % 6 = 0 AND c_custkey % 9 = 0 AND c_custkey % 11 <> 0
      ), del AS (
        SELECT 'd' AS op, c_custkey, CAST(NULL AS VARCHAR) AS c_name,
          CAST(NULL AS DOUBLE) AS c_acctbal, CAST(NULL AS BIGINT) AS ts,
          c_name AS before_name, c_acctbal AS before_acctbal
        FROM beforeState WHERE c_custkey % 11 = 0
      ), ins AS (
        SELECT 'i' AS op, c_custkey + 1000000000 AS c_custkey,
          c_name || '_new' AS c_name, c_acctbal, CAST(4 AS BIGINT) AS ts,
          CAST(NULL AS VARCHAR) AS before_name,
          CAST(NULL AS DOUBLE) AS before_acctbal
        FROM customer WHERE c_custkey % 13 = 0
      )
      SELECT * FROM upd UNION ALL SELECT * FROM res UNION ALL
      SELECT * FROM del UNION ALL SELECT * FROM ins
      ORDER BY c_custkey, op"""))

  /** Structured Streaming ingest end-to-end as an ORACLE-CHECKED gate
    * (ST1/ST2/W17 were spec-covered only): a file-source directory gets
    * a seed batch, an AvailableNow run drains it through the graft
    * streaming sink, an update batch lands as new files, and a second
    * AvailableNow run over the SAME checkpoint ingests only the new
    * arrivals — checkpoint resume, file-source dedup, and cross-batch
    * key merging in one scenario, exactly the production incremental-
    * backfill shape. Final merged table must equal the relational
    * recompute. (The file source requires a DIRECTORY to monitor, so
    * both batches are staged under a scratch dir rather than streamed
    * off the single testdata parquet file.) */
  private val streamIngestQ = GQ(
    "st1_stream_ingest",
    (s, dir) => {
      val p = scratch(s, dir, "st1")
      val ck = scratch(s, dir, "st1_ck")
      val src = scratch(s, dir, "st1_src")
      val cust = t(s, dir, "customer")
      def runStream(): Unit = {
        val sch = s.read.parquet(src).schema
        val q = s.readStream.schema(sch).parquet(src)
          .writeStream
          .format("graft")
          .option("checkpointLocation", ck)
          .option("primaryKey", "c_custkey")
          .option("preCombineField", "ts")
          .option("partitionFields", "c_mktsegment")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(p)
        q.awaitTermination()
      }
      cust.withColumn("ts", lit(1L))
        .write.mode("append").parquet(src)
      runStream()
      cust.filter(col("c_custkey") % 6 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_name", concat(col("c_name"), lit("_s2")))
        .write.mode("append").parquet(src)
      runStream()
      dataCols(LakeTable.load(s, p).snapshot())
    },
    Some("""SELECT c_custkey,
      CASE WHEN c_custkey % 6 = 0 THEN c_name || '_s2' ELSE c_name END AS c_name,
      c_nationkey, c_acctbal, c_mktsegment,
      CAST(CASE WHEN c_custkey % 6 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
      FROM customer ORDER BY c_custkey"""))

  /** st2 — streaming sessionization PARITY gate: the
    * [[graft.streaming.Sessionize]] flatMapGroupsWithState service run
    * over the whole `events` table (file source → AvailableNow →
    * parquet sink) must reproduce the batch gaps-and-islands answer —
    * the oracle IS `q21_sessionize`'s SQL. The streaming run has no
    * end-of-input flush of its own, so two far-future watermark
    * SENTINEL events (a synthetic user, filtered from the output)
    * advance the watermark past every real session's gap and the
    * event-time timeouts emit the trailing open sessions — the same
    * drain pattern a production backfill uses. Values stream as exact
    * cents (×100, integer-valued doubles) so per-session sums are
    * order-independent and match the oracle's DECIMAL arithmetic.
    * Scale: state is O(active users), the sink append-only; the
    * checkpoint-resumed multi-run shape is st1's. */
  private val streamSessionizeQ = GQ(
    "st2_stream_sessionize",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.streaming.{SessionEvent, Sessionize}
      val GapUs = 1800000000L // 30 min, matching q21
      val sink = scratch(s, dir, "st2")
      val ck = scratch(s, dir, "st2_ck")
      val src = scratch(s, dir, "st2_src")
      val e = events(s, dir).select(
        col("user_id").as("userId"),
        col("ts").cast("timestamp").as("ts"),
        round(col("value") * 100).cast("double").as("value"))
      e.write.mode("append").parquet(src)
      val maxUs = e.agg(max(unix_micros(col("ts")))).head().getLong(0)
      def sentinel(us: Long): DataFrame = {
        import s.implicits._
        Seq((-1L, us, 0.0)).toDF("userId", "us", "value")
          .select(col("userId"), expr("timestamp_micros(us)").as("ts"),
            col("value"))
      }
      // ONE long-running query with the StreamDrain sentinel cascade
      // (not three AvailableNow query lifecycles — same batch/watermark
      // sequence, but the checkpoint/state-store/query startup is paid
      // once; st1 keeps the separate-runs shape that pins checkpoint
      // RESUME).
      val sch = s.read.parquet(src).schema
      StreamDrain.runWithSentinels(s,
        () => s.readStream.schema(sch).parquet(src)
          .withWatermark("ts", "0 seconds")
          .as[SessionEvent](org.apache.spark.sql.Encoders.product[SessionEvent])
          .transform(Sessionize.sessions(_, gapMs = GapUs / 1000))
          .writeStream.format("parquet")
          .option("path", sink)
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
          .start(),
        Seq(
          () => sentinel(maxUs + GapUs + 60000000L)
            .write.mode("append").parquet(src),
          () => sentinel(maxUs + 2 * GapUs + 120000000L)
            .write.mode("append").parquet(src)))
      s.read.parquet(sink).filter(col("userId") >= 0)
        .select(col("userId").as("user_id"),
          unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"),
          col("nEvents").as("n_events"),
          (col("sumValue") / 100.0).as("sum_value"))
        .withColumn("session_idx", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("start_us")))
          .cast("long"))
        .select("user_id", "session_idx", "start_us", "end_us",
          "n_events", "sum_value")
        .orderBy("user_id", "session_idx")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value
        FROM events),
      flagged AS (SELECT user_id, event_id, us, value,
          CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
            THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      sessions AS (SELECT user_id, us, value,
          CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM flagged)
      SELECT user_id, session_idx, min(us) AS start_us, max(us) AS end_us,
        count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM sessions GROUP BY user_id, session_idx
      ORDER BY user_id, session_idx"""))

  /** st3 — STREAM-STREAM interval join as an oracle-checked gate: the
    * view and click streams of the events table (two file-source
    * reads of one staged dir) joined on user within a 30-minute
    * attribution window, both sides watermarked so the join state is
    * BOUNDED — the only stream-stream join shape that survives an
    * unbounded run (spec-covered in StreamingSpec; this gates the
    * operator's OUTPUT against the batch self-join oracle). Inner
    * joins emit matches as both sides arrive, so a single AvailableNow
    * drain is complete — no sentinel flush needed. */
  private val streamJoinQ = GQ(
    "st3_stream_join",
    (s, dir) => {
      val sink = scratch(s, dir, "st3")
      val ck = scratch(s, dir, "st3_ck")
      val src = scratch(s, dir, "st3_src")
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").as("ts"), col("event_type"))
        .write.mode("append").parquet(src)
      val sch = s.read.parquet(src).schema
      def side(t: String, pfx: String) = s.readStream.schema(sch).parquet(src)
        .filter(col("event_type") === t)
        .select(col("user_id").as(s"${pfx}_user"),
          col("event_id").as(s"${pfx}_id"), col("ts").as(s"${pfx}_ts"))
        .withWatermark(s"${pfx}_ts", "30 minutes")
      val joined = side("view", "v").join(side("click", "c"),
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("interval 30 minutes"))
      // StreamDrain.drainOnce carries this gate's completeness
      // contract: the staged input must plan as ONE micro-batch (the
      // sources set no maxFilesPerTrigger), or the 30-minute watermark
      // advancing between batches could evict join state and drop
      // matches the batch oracle keeps
      StreamDrain.drainOnce(s,
        () => joined
          .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
            col("c_id").as("click_id"))
          .writeStream.format("parquet")
          .option("path", sink)
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start())
      s.read.parquet(sink).orderBy("user_id", "view_id", "click_id")
    },
    Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
      FROM events v JOIN events c
        ON c.user_id = v.user_id
        AND v.event_type = 'view' AND c.event_type = 'click'
        AND epoch_us(c.ts) >= epoch_us(v.ts)
        AND epoch_us(c.ts) <= epoch_us(v.ts) + 1800000000
      ORDER BY 1, 2, 3"""))

  /** st4 — streaming WINDOWED AGGREGATION parity: q13's daily
    * (window × event_type) counts and DECIMAL-exact sums computed by
    * a watermarked streaming aggregation in APPEND mode — a window
    * row is emitted exactly once, when the watermark passes its end
    * (the incremental-report production shape; state is O(open
    * windows)). A far-future sentinel event advances the watermark
    * past every real window after the first drain (the st2 pattern);
    * sentinel rows are filtered AFTER the watermark operator, so they
    * drive time without polluting the aggregate. Oracle = q13's exact
    * batch SQL. */
  private val streamWindowQ = GQ(
    "st4_stream_windowed_agg",
    (s, dir) => {
      val sink = scratch(s, dir, "st4")
      val ck = scratch(s, dir, "st4_ck")
      val src = scratch(s, dir, "st4_src")
      val e = events(s, dir)
        .select(col("ts").cast("timestamp").as("ts"), col("event_type"),
          col("value"))
      e.write.mode("append").parquet(src)
      val maxTs = e.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val sch = s.read.parquet(src).schema
      def sentinel(us: Long): Unit = {
        import s.implicits._
        Seq((us, "__sentinel__", 0.0))
          .toDF("us", "event_type", "value")
          .select(expr("timestamp_micros(us)").as("ts"), col("event_type"),
            col("value"))
          .write.mode("append").parquet(src)
      }
      // NO pre-aggregation sentinel filter (StreamDrain doc): a filter
      // above withWatermark gets PUSHED BELOW the watermark collector,
      // so sentinel rows aggregate like any other and are dropped at
      // readout — the same output-side exclusion st2 uses.
      StreamDrain.runWithSentinels(s,
        () => s.readStream.schema(sch).parquet(src)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("value"))).cast("double").as("sum_value"))
          .select(col("window.start").as("window_start"),
            col("event_type"), col("n"), col("sum_value"))
          .writeStream.format("parquet")
          .outputMode("append")
          .option("path", sink)
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
          .start(),
        Seq(
          () => sentinel(maxTs + 2L * 86400000000L),
          () => sentinel(maxTs + 4L * 86400000000L)))
      s.read.parquet(sink)
        // null-safe: =!= would also drop a NULL event_type group the
        // oracle keeps
        .filter(!(col("event_type") <=> "__sentinel__"))
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")
    },
    Some(Relational.dailyWindowAggSql))

  /** lake22 — serving-path POINT LOOKUP: `snapshotForKeys` plans only
    * the files whose timeline-stored record-key bounds can contain the
    * probed keys — zero footer I/O, zero listing beyond the timeline
    * read (the read-side analog of the write probe; the SQL scan path
    * gets the same skipping from pk equality/IN pushdown, pinned in
    * PlanQualitySpec). The scenario writes three commits with
    * lexicographically disjoint key ranges plus an update commit, then
    * looks up one key per range; the update commit proves the lookup
    * serves the post-merge newest version. */
  private val pointLookupQ = GQ(
    "lake22_point_lookup",
    (s, dir) => {
      val p = scratch(s, dir, "lake22")
      val tb = LakeTable.create(s, p, props(partitioned = false))
      val b = base(s, dir)
      // ranges chosen to be non-empty at EVERY test SF (custkeys start
      // at 0); "25".."49" / "50".."99" are utf8-disjoint too
      tb.upsert(b.filter(col("c_custkey").between(25, 49)))
      tb.upsert(b.filter(col("c_custkey").between(50, 99)))
      tb.upsert(b.filter(col("c_custkey").between(100, 149)))
      tb.upsert(b.filter(col("c_custkey") === 75)
        .withColumn("c_name", concat(col("c_name"), lit("_u")))
        .withColumn("ts", lit(2L)))
      // contract: re-filter to the probed keys — files kept for key k
      // may carry other keys' rows
      dataCols(tb.snapshotForKeys(Set("30", "75", "125"))
        .filter(col("c_custkey").isin(30, 75, 125)))
    },
    Some("""SELECT c_custkey,
      CASE WHEN c_custkey = 75 THEN c_name || '_u' ELSE c_name END AS c_name,
      c_nationkey, c_acctbal, c_mktsegment,
      CAST(CASE WHEN c_custkey = 75 THEN 2 ELSE 1 END AS BIGINT) AS ts
      FROM customer WHERE c_custkey IN (30, 75, 125)
      ORDER BY c_custkey"""))

  /** lake23 — col-stats DATA SKIPPING (the Hudi metadata-table
    * col_stats analog): the table declares `statsColumns`, commits
    * record per-file min/max for them from the parquet footers, and
    * SQL predicates on those columns skip files driver-side with zero
    * I/O before the scan (the DSv2 delegate is rebuilt over the
    * pruned path list — PlanQualitySpec pins the file-count drop;
    * this gate pins end-to-end answer correctness through the pruned
    * read against the relational oracle). */
  private val dataSkipQ = GQ(
    "lake23_data_skipping",
    (s, dir) => {
      val tbl = QueryPack.catalogTable(s, dir, "lake23")
      s.sql(s"""CREATE TABLE $tbl (
        c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE,
        c_mktsegment STRING, ts BIGINT)
        USING graft TBLPROPERTIES (
          primaryKey = 'c_custkey', preCombineField = 'ts',
          statsColumns = 'c_custkey,c_mktsegment')""")
      base(s, dir).select(col("c_custkey"), col("c_name"),
          col("c_acctbal"), col("c_mktsegment"))
        .createOrReplaceTempView("lake23_src")
      // three commits with disjoint custkey ranges (disjoint numeric
      // col-stats) and whatever segment mix each range carries
      Seq("c_custkey % 3 = 0", "c_custkey % 3 = 1", "c_custkey % 3 = 2")
        .zipWithIndex.foreach { case (w, i) =>
          s.sql(s"""INSERT INTO $tbl
            SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
              CAST(1 AS BIGINT)
            FROM lake23_src WHERE $w AND c_custkey BETWEEN ${i * 50} AND ${i * 50 + 49}""")
        }
      s.sql(s"""SELECT c_custkey, c_name, c_acctbal, c_mktsegment, ts
        FROM $tbl
        WHERE c_custkey >= 50 AND c_custkey <= 99 AND c_mktsegment <> ''
        ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
      CAST(1 AS BIGINT) AS ts
      FROM customer
      WHERE c_custkey % 3 = 1 AND c_custkey BETWEEN 50 AND 99
      ORDER BY c_custkey"""))

  /** lake24 — writer-vs-TABLE-SERVICE optimistic concurrency (the
    * other half of multi-writer OCC beyond lake19's writer-vs-writer):
    * a clustering service call (rewrites EVERY live file group) races
    * a concurrent upsert from an independent table handle. Whichever
    * commits second sees the overlapping file-group removal and
    * retries against the fresh state — the service re-clusters the
    * post-upsert files, or the writer re-probes the clustered layout.
    * Final state must equal the sequential result either way (a
    * clustering is data-identical, so the race is order-independent).
    * At 100 TB compaction/clustering is ALWAYS concurrent with ingest;
    * this is the property that makes the services safe to schedule. */
  private val serviceOccQ = GQ(
    "lake24_service_occ",
    (s, dir) => {
      val p = scratch(s, dir, "lake24")
      val tab = LakeTable.create(s, p, props(true))
      tab.upsert(base(s, dir))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 3 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_name", concat(col("c_name"), lit("_a"))))
      val writer = LakeTable.load(s, p)
      val service = LakeTable.load(s, p)
      import scala.concurrent.Await
      import scala.concurrent.duration._
      import org.apache.spark.sql.graftshim.SubmitterFuture
      val fw = SubmitterFuture(writer.withOcc()(writer.upsert(
        base(s, dir).filter(col("c_custkey") % 2 === 0)
          .withColumn("ts", lit(3L))
          .withColumn("c_name", concat(col("c_name"), lit("_w"))))))
      val fs = SubmitterFuture(service.withOcc()(service.cluster(Seq("c_custkey"))))
      // ready both before extracting either (see lake19)
      Await.ready(fw, 10.minutes); Await.ready(fs, 10.minutes)
      Await.result(fw, 1.second)
      Await.result(fs, 1.second)
      dataCols(tab.snapshot())
    },
    Some("""SELECT c_custkey,
      c_name || CASE WHEN c_custkey % 2 = 0 THEN '_w'
                     WHEN c_custkey % 3 = 0 THEN '_a' ELSE '' END AS c_name,
      c_nationkey, c_acctbal, c_mktsegment,
      CAST(CASE WHEN c_custkey % 2 = 0 THEN 3
                WHEN c_custkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
      FROM customer ORDER BY c_custkey"""))

  /** lake25 — MOR time travel to a PRE-COMPACTION instant: the as-of
    * read must merge that era's delta files (delta update + tombstone
    * both visible), not serve the read-optimized base view, and a
    * post-compaction update must be invisible. Compaction rewrites the
    * physical layout but never the logical history — the property that
    * lets table services run freely under time-travel consumers. */
  private val morTravelQ = GQ(
    "lake25_mor_time_travel",
    (s, dir) => {
      val tab = LakeTable.create(s, scratch(s, dir, "lake25"),
        props(true).copy(tableType = "mor"))
      tab.upsert(base(s, dir))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 5 === 0)
        .withColumn("ts", lit(2L))
        .withColumn("c_name", concat(col("c_name"), lit("_d"))))
      val pre = tab.delete(base(s, dir).filter(col("c_custkey") % 7 === 0)
        .select("c_custkey", "c_mktsegment"))
      tab.compact()
      tab.upsert(base(s, dir).filter(col("c_custkey") % 3 === 0)
        .withColumn("ts", lit(3L))
        .withColumn("c_name", concat(col("c_name"), lit("_p"))))
      dataCols(tab.snapshot(Some(pre)))
    },
    Some("""SELECT c_custkey,
      CASE WHEN c_custkey % 5 = 0 THEN c_name || '_d' ELSE c_name END AS c_name,
      c_nationkey, c_acctbal, c_mktsegment,
      CAST(CASE WHEN c_custkey % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ts
      FROM customer WHERE c_custkey % 7 <> 0 ORDER BY c_custkey"""))

  /** lake26 — MOR inline-compaction CADENCE
    * (`compaction.delta_commits=2`, TestBatchMOR.java:40-46 /
    * TestStreamingMOR.java:51): four delta commits must interleave an
    * auto-fired compaction instant after every second one, and the
    * compacted snapshot must equal the logical fold of all four
    * batches. The gate pins BOTH: the output unions the ordered
    * timeline-action sequence (delta, delta, commit, delta, delta,
    * commit — a literal VALUES list on the oracle side, so a missing,
    * extra, or mis-placed compaction instant hash-mismatches) with the
    * final data state. The timeline rows come off the driver-side
    * commit list (metadata-scale — the timeline IS a driver
    * structure), not a windowed job. */
  private val compactionCadenceQ = GQ(
    "lake26_compaction_cadence",
    (s, dir) => {
      import s.implicits._
      val tab = LakeTable.create(s, scratch(s, dir, "lake26"),
        props(true).copy(tableType = "mor", compactDeltaCommits = 2))
      tab.upsert(base(s, dir)) // delta 1
      tab.upsert(base(s, dir).filter(col("c_custkey") % 5 === 0) // delta 2
        .withColumn("ts", lit(2L))
        .withColumn("c_name", concat(col("c_name"), lit("_v2"))))
      // ^ trailing deltas == 2 → inline compaction fires ("commit")
      tab.delete(base(s, dir).filter(col("c_custkey") % 7 === 0) // delta 3
        .select("c_custkey", "c_mktsegment"))
      tab.upsert(base(s, dir).filter(col("c_custkey") % 3 === 0) // delta 4
        .withColumn("ts", lit(3L))
        .withColumn("c_name", concat(col("c_name"), lit("_p"))))
      // ^ second compaction fires
      val tl = tab.commits().select("commit_time", "action").collect()
        .sortBy(_.getString(0)).map(_.getString(1)).zipWithIndex
        .map { case (a, i) => (s"t${i + 1}", a) }.toSeq.toDF("k", "v")
      val data = tab.snapshot()
        .select(concat(lit("d"), col("c_custkey").cast("string")).as("k"),
          concat(col("c_name"), lit(":"), col("ts").cast("string")).as("v"))
      tl.unionByName(data).orderBy("k")
    },
    Some("""SELECT 't' || CAST(i AS VARCHAR) AS k, a AS v
        FROM (VALUES (1,'deltacommit'),(2,'deltacommit'),(3,'commit'),
          (4,'deltacommit'),(5,'deltacommit'),(6,'commit')) AS t(i, a)
      UNION ALL
      SELECT 'd' || CAST(c_custkey AS VARCHAR),
        CASE WHEN c_custkey % 3 = 0 THEN c_name || '_p:3'
             WHEN c_custkey % 5 = 0 THEN c_name || '_v2:2'
             ELSE c_name || ':1' END
      FROM customer
      WHERE NOT (c_custkey % 7 = 0 AND c_custkey % 3 <> 0)
      ORDER BY k"""))

  def qs: Seq[GQ] = Seq(
    upsertQ, deleteQ, incrementalQ, mergeQ, evolutionQ, commitsQ, bootstrapQ,
    timeTravelQ, pruneQ, morQ, bucketQ, morRtSqlQ, clusterQ, restoreQ, zorderQ,
    cdcQ, mvQ, savepointQ, predicateDmlQ, occQ, vacuumQ, cdcArchiveQ,
    streamIngestQ, streamSessionizeQ, streamJoinQ, streamWindowQ,
    pointLookupQ, dataSkipQ, serviceOccQ, morTravelQ, compactionCadenceQ)
}
