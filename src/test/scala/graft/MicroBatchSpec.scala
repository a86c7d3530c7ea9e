package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ListenerBus, SubmitterFuture}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{LakeTable, TableProps}
import graft.streaming.{MicroBatch, MvMaintenance, NearDupMaintenance, SearchIndexMaintenance}

/** The index services' micro-batch path ([[MicroBatch]]): every CDC
  * batch is persisted and folded in an interpreted clone of the
  * caller's session, its rows never collected to the driver, and
  * background writes run under their submitter's Spark local
  * properties. */
class MicroBatchSpec extends AnyFunSuite {
  import TestSpark.{spark, tmpDir}
  import spark.implicits._

  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** Every job started while `body` runs, as seen by a listener. */
  private def jobsOf(body: => Unit): Seq[SparkListenerJobStart] = {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    // events still queued from earlier jobs would reach a new listener
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.asScala.toSeq
  }

  test("index services fold their CDC batches interpreted; the caller's conf is untouched") {
    spark.catalog.clearCache()
    val callerConf = Seq(WholeStage, FactoryMode).map(k => k -> spark.conf.get(k))
    val root = tmpDir("mb_")
    def mor(name: String, key: Seq[String], stats: Seq[String] = Nil) =
      LakeTable.create(spark, s"$root/$name", TableProps(name, key, Some("ts"),
        Seq.empty, tableType = "mor", statsColumns = stats)).basePath
    val docs = LakeTable.create(spark, s"$root/docs", TableProps(
      "mbdocs", Seq("doc_id"), Some("ts"), Seq.empty, tableType = "mor"))
    val fam = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs.upsert(Seq((1L, fam, 1L), (2L, fam + " extra", 1L),
      (3L, "kilo lima mike november", 1L)).toDF("doc_id", "text", "ts"))
    val queries = Seq(
      SearchIndexMaintenance.start(spark, docs.basePath, mor("post", Seq("doc_id", "term")),
        mor("stats", Seq("term")), mor("tot", Seq("id")), s"$root/ckpt_search"),
      NearDupMaintenance.start(spark, docs.basePath,
        mor("sigs", Seq("doc_id"), Seq("fp", "ts")), mor("pairs", Seq("a", "b")),
        s"$root/ckpt_neardup",
        postingsPath = Some(mor("bands", Seq("bk", "doc_id"), Seq("bk", "ts")))))
    try {
      queries.foreach(_.processAllAvailable()) // bootstrap
      val jobs = jobsOf {
        docs.upsertWithDeletes(Seq((4L, fam + " more", 2L)).toDF("doc_id", "text", "ts"),
          Seq(3L).toDF("doc_id"))
        queries.foreach(_.processAllAvailable())
        assert(spark.sharedState.cacheManager.isEmpty, "micro-batch left cache entries")
        docs.upsert(Seq((2L, "oscar papa quebec romeo", 3L)).toDF("doc_id", "text", "ts"))
        queries.foreach(_.processAllAvailable())
        assert(spark.sharedState.cacheManager.isEmpty, "micro-batch left cache entries")
      }
      // per service and batch, the stream's own jobs are the CDC source's
      // planning (outside any SQL execution); every SQL execution is the
      // fold's
      val sqlJobs = jobs.map(_.properties).filter(p =>
        p.getProperty("sql.streaming.queryId") != null &&
          p.getProperty("spark.sql.execution.id") != null)
      def interpreted(p: java.util.Properties) =
        p.getProperty(WholeStage) == "false" && p.getProperty(FactoryMode) == "NO_CODEGEN"
      val batches = sqlJobs.groupBy(p =>
        (p.getProperty("sql.streaming.queryId"), p.getProperty("streaming.sql.batchId")))
      assert(batches.keySet.map(_._1) == queries.map(_.id.toString).toSet)
      assert(batches.size == 4, s"expected two churn batches per service: ${batches.keySet}")
      batches.foreach { case (batch, ps) =>
        val compiled = ps.filterNot(interpreted)
        assert(compiled.isEmpty, s"$batch: ${compiled.size} of ${ps.size} " +
          "SQL jobs ran with codegen")
      }
      assert(LakeTable.load(spark, docs.basePath).snapshot().count() == 3)
    } finally queries.foreach(_.stop())
    assert(Seq(WholeStage, FactoryMode).map(k => k -> spark.conf.get(k)) == callerConf)
  }

  test("a batch of large payloads folds persisted, its rows never sent to the driver") {
    spark.catalog.clearCache()
    val micro = new MicroBatch(spark)
    val payload = 4 << 20
    // built on the executors, so only the fold could bring it to the
    // driver; random, so the result codec cannot shrink it
    val batch = spark.range(0, 6, 1, 3)
      .select(col("id"), expr(s"randstr($payload, 0)").as("v"))
    val results = new ConcurrentLinkedQueue[Long]()
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) results.add(e.taskMetrics.resultSize)
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val folded = try micro.fold(batch) { rows =>
      assert(rows.sparkSession eq micro.interpreted)
      assert(rows.storageLevel != StorageLevel.NONE)
      rows.agg(count(lit(1)), sum(length(col("v")))).head()
    } finally {
      ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    assert(folded.map(r => (r.getLong(0), r.getLong(1))) == Some((6L, 6L * payload)))
    assert(results.asScala.nonEmpty && results.asScala.max < payload,
      s"a task sent ${results.asScala.max} bytes to the driver")
    assert(spark.sharedState.cacheManager.isEmpty, "the batch stayed persisted")
    assert(micro.fold(batch.limit(0))(_ => ()).isEmpty)
  }

  test("the interpreted session compiles no generated classes") {
    // a literal no earlier plan used makes the generated source new, so
    // the JVM-wide class cache cannot serve it
    def compilesOf(s: org.apache.spark.sql.SparkSession): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val salt = System.nanoTime()
      s.range(0, 100, 1, 2).select((col("id") * lit(salt)).as("x"))
        .filter(col("x") % 7 =!= lit(salt % 7)).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compilesOf(spark) > 0, "the caller's session should compile")
    assert(compilesOf(new MicroBatch(spark).interpreted) == 0,
      s"$WholeStage=false and $FactoryMode=NO_CODEGEN are no longer honoured")
  }

  test("background futures carry their submitter's job group") {
    val sc = spark.sparkContext
    // grow the global pool from a thread with no job group first, so the
    // submitters below never create (and so never seed) its workers
    val par = Runtime.getRuntime.availableProcessors
    val running = new CountDownLatch(par)
    val release = new CountDownLatch(1)
    val warm = (1 to par).map(_ => scala.concurrent.Future {
      running.countDown(); release.await(10, TimeUnit.SECONDS)
    }(scala.concurrent.ExecutionContext.global))
    running.await(10, TimeUnit.SECONDS)
    release.countDown()
    warm.foreach(Await.ready(_, 10.seconds))
    @volatile var submitted = Map.empty[String, scala.concurrent.Future[Long]]
    val started = new CountDownLatch(2)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.countDown()
    }
    val jobs = jobsOf {
      sc.addSparkListener(l)
      try {
        val threads = Seq("group_a", "group_b").map { g =>
          val t = new Thread(() => {
            sc.setJobGroup(g, g, interruptOnCancel = true)
            val f = SubmitterFuture {
              sc.parallelize(1 to 2, 2).map { x => Thread.sleep(3000); x.toLong }
                .reduce(_ + _)
            }
            synchronized { submitted += g -> f }
          })
          t.start(); t
        }
        threads.foreach(_.join())
        assert(started.await(30, TimeUnit.SECONDS), "both jobs should start")
        sc.cancelJobGroup("group_a")
        val a = intercept[SparkException](Await.result(submitted("group_a"), 60.seconds))
        assert(a.getMessage.contains("cancel"), a.getMessage)
        assert(Await.result(submitted("group_b"), 60.seconds) == 3L)
      } finally sc.removeSparkListener(l)
    }
    assert(jobs.map(_.properties.getProperty("spark.jobGroup.id")).sorted ==
      Seq("group_a", "group_b"))
  }

  test("the MV service folds its CDC batches on the same interpreted path") {
    spark.catalog.clearCache()
    val callerConf = Seq(WholeStage, FactoryMode).map(k => k -> spark.conf.get(k))
    val root = tmpDir("mbmv_")
    val base = LakeTable.create(spark, s"$root/base", TableProps(
      "mbbase", Seq("id"), Some("ts"), Seq.empty))
    val mv = LakeTable.create(spark, s"$root/mv", TableProps(
      "mbmv", Seq("grp"), None, Seq.empty))
    base.upsert(Seq((1, "g1", 1L), (2, "g1", 1L), (3, "g2", 1L)).toDF("id", "grp", "ts"))
    val op = col(LakeTable.ChangeOpCol)
    val deltasOf = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(coalesce(col("grp"), col(LakeTable.BeforeImageCol).getField("grp")).as("grp"))
        .agg(sum(when(op === "i", 1L).when(op === "d", -1L).otherwise(0L)).as("dcnt"))
    val fold = (stored: org.apache.spark.sql.DataFrame, deltas: org.apache.spark.sql.DataFrame) =>
      stored.join(deltas, Seq("grp"), "full_outer").select(col("grp"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L))).as("cnt"))
    val q = MvMaintenance.start(spark, base.basePath, mv.basePath, s"$root/ckpt",
      org.apache.spark.sql.types.StructType.fromDDL("grp STRING, cnt BIGINT"), deltasOf, fold)
    try {
      q.processAllAvailable() // bootstrap
      val jobs = jobsOf {
        base.upsertWithDeletes(Seq((4, "g2", 2L)).toDF("id", "grp", "ts"), Seq(1).toDF("id"))
        q.processAllAvailable()
      }
      assert(spark.sharedState.cacheManager.isEmpty, "micro-batch left cache entries")
      // every SQL execution of the churn batch is the fold's
      val sqlJobs = jobs.map(_.properties).filter(p =>
        p.getProperty("sql.streaming.queryId") == q.id.toString &&
          p.getProperty("spark.sql.execution.id") != null)
      assert(sqlJobs.map(_.getProperty("streaming.sql.batchId")).distinct.size == 1,
        "expected one churn batch")
      val compiled = sqlJobs.filterNot(p =>
        p.getProperty(WholeStage) == "false" && p.getProperty(FactoryMode) == "NO_CODEGEN")
      assert(compiled.isEmpty, s"${compiled.size} of ${sqlJobs.size} SQL jobs ran with codegen")
      assert(mv.snapshot().select("grp", "cnt").as[(String, Long)].collect().toSet ==
        Set(("g1", 1L), ("g2", 2L)))
    } finally q.stop()
    assert(Seq(WholeStage, FactoryMode).map(k => k -> spark.conf.get(k)) == callerConf)
  }
}
