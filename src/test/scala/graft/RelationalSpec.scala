package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // the engine's production session config: local FS without chmod
    // shell-outs (see graft.core.BareLocalFileSystem) — tests exercise
    // the same FS the bench/verify sessions run on
    .config("spark.hadoop.fs.file.impl", "graft.core.BareLocalFileSystem")
    .getOrCreate()
  val sf: String = "/root/testdata/sf0.001"

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  // after Spark's own shutdown hook (Hadoop priority 40) has stopped the
  // context and its streaming queries, so nothing writes into a dir
  // while it is deleted; the test JVM is forked, so its exit ends the run
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    () => tmpDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)), 20)

  /** The specs' ONE temp-dir helper: a fresh directory
    * `target/<prefix><random>`, deleted with everything in it when the
    * test JVM exits. */
  def tmpDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), prefix).toFile
    tmpDirs.add(dir)
    dir.getPath
  }

  /** A path that does not exist yet, inside a fresh [[tmpDir]]: where a
    * spec creates a table, a checkpoint or a write target. */
  def tmpPath(prefix: String): String = tmpDir(prefix) + "/t"
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("every declared query runs and returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracles without queries: $extra")
  }

  test("q6 latest-event-per-user has one row per user") {
    val df = SparkEntry.queries("q6_latest_event_per_user")(spark, sf)
    import org.apache.spark.sql.functions._
    val users = graft.util.Tables.events(spark, sf)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(df.count() == users)
  }
}
