package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{LakeTable, TableProps}

/** Physical-plan assertions: the plans the engine produces must be the
  * plans you'd want at 100 TB — filters reaching the parquet scan,
  * column pruning, broadcast for small dims, whole-stage codegen.
  * These lock in plan shape so a refactor can't silently regress them. */
class PlanQualitySpec extends AnyFunSuite {
  import TestSpark.{spark, tmpPath}
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def formattedPlan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(df.explain("formatted"))
    out.toString("UTF-8")
  }

  /** `*(n)` is the compact WholeStageCodegen marker in plan toString. */
  private def hasCodegen(plan: String): Boolean =
    plan.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined

  /** Final (post-AQE) physical plan — the formatted initial plan shows
    * no WholeStageCodegen spans under adaptive execution. */
  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // run THIS plan (count() would execute a derived one)
    df.queryExecution.executedPlan.toString
  }

  test("catalog scan pushes filters and prunes columns") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", "target/graft_warehouse_test")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.plan1")
    spark.sql("""CREATE TABLE graft.db.plan1 (id INT, v STRING, w STRING, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts')""")
    spark.sql("INSERT INTO graft.db.plan1 VALUES (1,'a','x',1), (2,'b','y',1)")
    val df = spark.sql("SELECT v FROM graft.db.plan1 WHERE id = 1")
    val plan = formattedPlan(df)
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,1)]"),
      s"filter not pushed to parquet:\n$plan")
    // pruned read schema: id (for the filter) + v, but not w or ts
    assert(plan.contains("ReadSchema") && !plan.contains("w:string"),
      s"column pruning failed:\n$plan")
  }

  test("small-dimension join broadcasts; no shuffle of the dim table") {
    val lineitem = graft.util.Tables.t(spark, sf, "lineitem")
    val nation = graft.util.Tables.t(spark, sf, "nation")
    val supplier = graft.util.Tables.t(spark, sf, "supplier")
    val q = lineitem
      .join(supplier, lineitem("l_suppkey") === supplier("s_suppkey"))
      .join(nation, supplier("s_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name")).agg(sum(col("l_quantity")).as("qty"))
    val plan = formattedPlan(q)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dim joins must not shuffle:\n$plan")
    val ep = executedPlan(q)
    assert(hasCodegen(ep), s"expected codegen:\n$ep")
  }

  test("path-API snapshot scan stays within whole-stage codegen") {
    val p = "target/graft_scratch/plan_path"
    LakeTable.drop(spark, p)
    val t = LakeTable.create(spark, p,
      TableProps("plan", Seq("id"), Some("ts"), Seq("dt")))
    t.upsert(Seq((1, 1L, "d1"), (2, 1L, "d2")).toDF("id", "ts", "dt"))
    val df = spark.read.format("graft").load(p).filter(col("id") === 1).select("id")
    val plan = executedPlan(df)
    assert(hasCodegen(plan), s"expected codegen:\n$plan")
  }

  test("SF-scaled dims broadcast via AQE, not forced hints") {
    // Only fixed-size dims (nation/region) carry an explicit broadcast
    // hint; customer/supplier/part are left to AQE so a 100 TB run
    // falls back to a shuffle join instead of a forced multi-GB
    // broadcast. At test SF, AQE must still pick broadcast for them.
    val cases = Seq( // (query, expected hint count in the optimized plan)
      "q3_join_revenue_by_nation" -> 1, // nation
      "q14_regional_supplier_volume" -> 2, // nation + region
      "q15_promo_revenue" -> 0)
    for ((name, hints) <- cases) {
      val df = SparkEntry.queries(name)(spark, sf)
      val opt = df.queryExecution.optimizedPlan.toString
      val found = "strategy=broadcast".r.findAllIn(opt).size
      assert(found == hints, s"$name: expected $hints broadcast hints, got $found:\n$opt")
      val ep = executedPlan(df)
      assert(ep.contains("BroadcastHashJoin"),
        s"$name: AQE should broadcast the small dims at test SF:\n$ep")
      // q3/q14's fact⋈fact join legitimately shuffles; q15 is a single
      // fact⋈dim join and must be all-broadcast at this SF
      if (name == "q15_promo_revenue")
        assert(!ep.contains("SortMergeJoin"), s"$name: unexpected shuffle join:\n$ep")
    }
  }

  test("asof join is window-only; range join never goes cartesian") {
    // q16: the union + carry-forward-window formulation must contain
    // NO join operator at all — one shuffle/sort per user
    val asof = SparkEntry.queries("q16_asof_attribution")(spark, sf)
    val asofPlan = executedPlan(asof)
    assert(!asofPlan.contains("Join"), s"asof should be join-free:\n$asofPlan")
    assert(asofPlan.contains("Window"), s"expected a window:\n$asofPlan")
    // q17: the bin-bucketed interval join must be an equi (hash) join,
    // never a cartesian product or nested-loop join
    val rng = SparkEntry.queries("q17_range_join")(spark, sf)
    val rngPlan = executedPlan(rng)
    assert(!rngPlan.contains("Cartesian") && !rngPlan.contains("NestedLoop"),
      s"range join must stay equi-bucketed:\n$rngPlan")
  }

  test("curation operators keep the 100TB-safe plan shapes") {
    // decon1: both joins (benchmark pairing + benchmark gram set) must
    // broadcast — the corpus side is never shuffled for a join, only
    // for its own distinct/groupBy
    val decon = SparkEntry.queries("decon1_benchmark_overlap")(spark, sf)
    val deconPlan = executedPlan(decon)
    assert(deconPlan.contains("BroadcastHashJoin"),
      s"decon1 should broadcast the benchmark side:\n$deconPlan")
    assert(!deconPlan.contains("SortMergeJoin") && !deconPlan.contains("Cartesian"),
      s"decon1 must not shuffle-join the corpus:\n$deconPlan")
    // pii1 and mix1 are single-scan: no join operator at all
    for (name <- Seq("pii1_redaction", "mix1_domain_mix")) {
      val plan = executedPlan(SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("Join"), s"$name should be join-free:\n$plan")
      assert(hasCodegen(plan), s"$name should stay in codegen:\n$plan")
    }
    // qual2 joins two doc-keyed aggregates — any join is fine except a
    // cartesian; the explode+agg pipeline must stay in codegen
    val qual = executedPlan(SparkEntry.queries("qual2_repetition")(spark, sf))
    assert(!qual.contains("Cartesian") && !qual.contains("NestedLoop"),
      s"qual2 must stay key-joined:\n$qual")
    assert(hasCodegen(qual))
  }

  test("multimodal pipelines stay shuffle-free up to the output sort") {
    // decode/resize/sample are mapPartitions chains: the ONLY exchange
    // allowed is the gate's final orderBy (range partitioning) — a
    // hash exchange, aggregate, or join anywhere means the media
    // bytes themselves got shuffled, which at 100 TB of payloads is
    // the difference between a map job and a broken plan
    for (name <- Seq("mm2_real_decode", "mm3_resize_box",
        "mm4_frame_sample", "mm5_audio_resample", "mm13_video_scenes")) {
      val plan = executedPlan(SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("hashpartitioning"),
        s"$name must not hash-shuffle payloads:\n$plan")
      assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
        s"$name should be join/agg-free:\n$plan")
    }
  }

  test("tri-modal payload scan prunes to the requesting store's column") {
    // pipe9's scale claim, pinned: three maintained signature stores
    // fan out from ONE payload table, and parquet column pruning means
    // the audio store's scan never reads image or video bytes — at
    // 100 TB the three concurrent reconciles each pay only their own
    // modality's I/O, not 3× the table
    val dir = "target/graft_scratch/plan_trimodal"
    LakeTable.drop(spark, dir)
    val t = LakeTable.create(spark, dir,
      TableProps("p9plan", Seq("doc_id"), Some("ts"), Seq.empty))
    t.upsert(Seq((1L, Array[Byte](1), Array[Byte](2), Array[Byte](3), 1L))
      .toDF("doc_id", "img", "aud", "vid", "ts"))
    val plan = formattedPlan(t.snapshot().select(col("doc_id"), col("aud")))
    val read = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in plan:\n$plan"))
    assert(read.contains("aud:binary"), s"aud not read: $read")
    assert(!read.contains("img") && !read.contains("vid"),
      s"sibling modality columns not pruned from the scan: $read")
  }

  test("sim6 PQ: distance tables broadcast; ADC never goes cartesian") {
    val plan = executedPlan(SparkEntry.queries("sim6_pq_adc_topk")(spark, sf))
    // the codebook and per-query distance tables are K×M-row sides —
    // they must broadcast against the codes scan
    assert(plan.contains("BroadcastHashJoin"),
      s"sim6 should broadcast centroid/distance tables:\n$plan")
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"sim6 ADC must stay key-joined:\n$plan")
  }

  test("pipe2 canonical selection stays key-joined end to end") {
    val plan = executedPlan(
      SparkEntry.queries("pipe2_canonical_selection")(spark, sf))
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"pipe2 must not produce all-pairs shapes:\n$plan")
  }

  test("cdc: the candidate-key exchange is computed once and reused") {
    val path = tmpPath("plan_cdc_")
    val t = LakeTable.create(spark, path, TableProps(
      "plan_cdc", Seq("id"), Some("ts"), Seq("dt")))
    val c1 = t.upsert(Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d1"))
      .toDF("id", "v", "ts", "dt"))
    t.upsert(Seq((1, "a2", 2L, "d1")).toDF("id", "v", "ts", "dt"))
    val plan = executedPlan(t.cdc(c1))
    // cand feeds the semi-join on BOTH image sides; without exchange
    // reuse the churn files would be scanned and distinct-shuffled
    // twice per read
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedSubquery"),
      s"cdc candidate exchange not reused:\n$plan")
  }

  test("skew-collapse generators reuse the group-window exchange") {
    // the star and rep branches of every collapsed pair generator are
    // filter-only consumers of ONE Window(min over group) frame — the
    // expensive signature lineage (decode+hash / shingle+minhash) must
    // sit under a single reused exchange, or every gate pays it twice
    // (the round-14 measured 4-7× hazard). Pinned here so a Spark
    // upgrade or a refactor that splits the subtrees fails loudly.
    for (name <- Seq("dedup2_minhash_lsh", "dedup3_simhash",
        "mm6_phash_neardup", "mm9_audio_neardup")) {
      val plan = executedPlan(SparkEntry.queries(name)(spark, sf))
      assert(plan.contains("ReusedExchange"),
        s"$name: group-window exchange not reused:\n$plan")
    }
  }

  test("global hygiene: every gate query plans 100TB-safe") {
    // Three structural rules a plan must satisfy to survive a 100×
    // scale-up, asserted over EVERY gate query at sf0.001:
    //   1. no CartesianProductExec (BroadcastNestedLoopJoin against a
    //      broadcast 1-row totals relation is fine; a shuffled
    //      cartesian never is);
    //   2. no Window/WindowGroupLimit with an EMPTY partition spec —
    //      an unpartitioned window sorts the whole relation into one
    //      task (rank-after-limit windows carry a lit(0) partition to
    //      keep the spec explicit and the input provably bounded);
    //   3. no FORCED broadcast hint whose side is an unfiltered,
    //      unaggregated scan of an SF-scaled table (nation/region are
    //      fixed-size; everything else grows with SF, so a bare
    //      broadcast(lineitem) is a multi-GB broadcast at 100 TB —
    //      those joins belong to AQE). Filtered slices (query vectors)
    //      and aggregates (totals, gram sets) stay broadcastable.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, Join, LogicalPlan, BROADCAST}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

    val scaled = Set("lineitem", "orders", "customer", "supplier", "part",
      "partsupp", "events", "documents", "embeddings")
    def scaledScan(p: LogicalPlan): Boolean = p.exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists(rp =>
          scaled.exists(n => rp.toString.contains(n + ".parquet")))
        case _ => false
      }
      case _ => false
    }
    def bounded(p: LogicalPlan): Boolean =
      p.exists { case _: Aggregate => true; case _: LFilter => true; case _ => false }
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      (p +: kids.flatMap(allNodes)) ++ p.subqueries.flatMap(allNodes)
    }

    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sf)
      df.collect()
      val nodes = allNodes(df.queryExecution.executedPlan)
      if (nodes.exists(_.isInstanceOf[CartesianProductExec]))
        bad += s"$name: CartesianProduct"
      nodes.foreach {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          bad += s"$name: unpartitioned WindowExec"
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          bad += s"$name: unpartitioned WindowGroupLimitExec"
        case _ =>
      }
      df.queryExecution.optimizedPlan.foreach {
        case j: Join =>
          val sides = Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right)
          for ((h, side) <- sides)
            if (h.exists(_.strategy.contains(BROADCAST)) &&
                scaledScan(side) && !bounded(side))
              bad += s"$name: forced broadcast of an unbounded SF-scaled side"
        case _ =>
      }
    }
    assert(bad.isEmpty, s"plan-hygiene violations:\n  ${bad.mkString("\n  ")}")
  }

  test("catalog point lookup skips files via timeline key bounds") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", "target/graft_warehouse_test")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.ptl")
    spark.sql("""CREATE TABLE graft.db.ptl (id STRING, v STRING, ts BIGINT)
      USING graft TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts')""")
    // three commits with lexicographically DISJOINT key ranges — each
    // file's stored bounds cover one letter class
    spark.sql("INSERT INTO graft.db.ptl VALUES ('a1','va',1), ('a2','va2',1)")
    spark.sql("INSERT INTO graft.db.ptl VALUES ('b1','vb',1), ('b2','vb2',1)")
    spark.sql("INSERT INTO graft.db.ptl VALUES ('c1','vc',1), ('c2','vc2',1)")
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      df.collect()
      def deep(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case s: QueryStageExec => Seq(s.plan)
          case _ => p.children
        }
        p +: kids.flatMap(deep)
      }
      val bse = deep(df.queryExecution.executedPlan).collect {
        case b: BatchScanExec => b
      }.head
      bse.scan.asInstanceOf[graft.sql.GraftScan].delegate
        .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
        .fileIndex.inputFiles.length
    }
    val total = scannedFiles(spark.sql("SELECT * FROM graft.db.ptl"))
    assert(total >= 3, s"expected one file per commit, got $total")
    val eq = spark.sql("SELECT v FROM graft.db.ptl WHERE id = 'b2'")
    assert(eq.collect().map(_.getString(0)).toSeq == Seq("vb2"))
    assert(scannedFiles(eq) < total, "key equality did not skip files")
    val in = spark.sql(
      "SELECT v FROM graft.db.ptl WHERE id IN ('a1','c1') ORDER BY v")
    assert(in.collect().map(_.getString(0)).toSeq == Seq("va", "vc"))
    val inFiles = scannedFiles(in)
    assert(inFiles < total && inFiles >= 2,
      s"IN list should keep both matching ranges, scanned $inFiles of $total")
  }

  test("path-API snapshotForKeys prunes files and keeps MOR merge sound") {
    import graft.core.{LakeTable, TableProps}
    val p = "target/graft_scratch/spec_ptl_mor"
    LakeTable.drop(spark, p)
    val t = LakeTable.create(spark, p,
      TableProps("ptl", Seq("id"), Some("ts"), Seq.empty, tableType = "mor"))
    t.upsert(Seq(("a1", "va", 1L), ("a2", "va2", 1L)).toDF("id", "v", "ts"))
    t.upsert(Seq(("b1", "vb", 1L), ("b2", "vb2", 1L)).toDF("id", "v", "ts"))
    // delta update of b2: the pruned read must still see BOTH its
    // versions and pick the newer one
    t.upsert(Seq(("b2", "vb2new", 2L)).toDF("id", "v", "ts"))
    val full = t.snapshot().inputFiles.length
    val pruned = t.snapshotForKeys(Set("b2"))
    assert(pruned.inputFiles.length < full,
      s"expected fewer than $full files for a point lookup")
    val row = pruned.filter(col("_record_key") === "b2")
      .select("v").collect().map(_.getString(0)).toSeq
    assert(row == Seq("vb2new"), s"merge winner wrong under pruning: $row")
  }

  test("col-stats index skips files on data-column predicates") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", "target/graft_warehouse_test")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.cstats")
    spark.sql("""CREATE TABLE graft.db.cstats
      (id INT, score BIGINT, grade STRING, ts BIGINT) USING graft
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts',
        statsColumns = 'score,grade')""")
    // three commits with disjoint score ranges AND disjoint grades
    spark.sql("INSERT INTO graft.db.cstats VALUES (1,10,'aa',1), (2,19,'ab',1)")
    spark.sql("INSERT INTO graft.db.cstats VALUES (3,20,'ba',1), (4,29,'bb',1)")
    spark.sql("INSERT INTO graft.db.cstats VALUES (5,30,'ca',1), (6,39,'cb',1)")
    def scanned(df: org.apache.spark.sql.DataFrame): Int = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      df.collect()
      def deep(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case s: QueryStageExec => Seq(s.plan)
          case _ => p.children
        }
        p +: kids.flatMap(deep)
      }
      deep(df.queryExecution.executedPlan).collect {
        case b: BatchScanExec => b
      }.head.scan.asInstanceOf[graft.sql.GraftScan].delegate
        .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
        .fileIndex.inputFiles.length
    }
    val total = scanned(spark.sql("SELECT * FROM graft.db.cstats"))
    assert(total >= 3)
    // numeric range predicate: only the middle commit's range matches
    val rng = spark.sql(
      "SELECT id FROM graft.db.cstats WHERE score >= 20 AND score <= 29 ORDER BY id")
    assert(rng.collect().map(_.getInt(0)).toSeq == Seq(3, 4))
    assert(scanned(rng) < total, "numeric range did not skip files")
    // string equality on the second stats column
    val se = spark.sql("SELECT id FROM graft.db.cstats WHERE grade = 'ca'")
    assert(se.collect().map(_.getInt(0)).toSeq == Seq(5))
    assert(scanned(se) < total, "string equality did not skip files")
    // predicate on an UNDECLARED column must not prune (conservative)
    val un = spark.sql("SELECT id FROM graft.db.cstats WHERE ts = 1")
    assert(un.collect().length == 6)
    assert(scanned(un) == total)
  }

  test("bucketed point lookup prunes to the key's hash bucket") {
    import graft.core.{LakeTable, TableProps}
    val p = "target/graft_scratch/spec_ptl_bucket"
    LakeTable.drop(spark, p)
    val t = LakeTable.create(spark, p,
      TableProps("ptlb", Seq("id"), Some("ts"), Seq.empty,
        bucketIndexBuckets = 4))
    t.upsert(Seq.tabulate(40)(i => (s"k$i", s"v$i", 1L)).toDF("id", "v", "ts"))
    val full = t.snapshot().inputFiles.length
    assert(full >= 3, s"expected multiple bucket files, got $full")
    // keys spread over every bucket, so bounds alone cannot prune —
    // only the driver-side bucket-hash mirror can skip here
    val one = t.snapshotForKeys(Set("k7"))
    assert(one.inputFiles.length < full,
      s"bucket routing did not skip files ($full scanned)")
    val v = one.filter(col("_record_key") === "k7")
      .select("v").collect().map(_.getString(0)).toSeq
    assert(v == Seq("v7"))
  }

  test("graft_vec_dot participates in codegen (no CodegenFallback)") {
    graft.functions.GraftFunctions.register(spark)
    // parquet-backed input so the projection can't constant-fold away
    val df = graft.util.Tables.t(spark, sf, "embeddings")
      .selectExpr("graft_vec_dot(embedding, embedding) AS d")
    val plan = executedPlan(df)
    assert(hasCodegen(plan), s"expected codegen:\n$plan")
    assert(df.agg(min("d")).head().getDouble(0) > 0.0)
  }
}
