package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.LakeTable

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: String, out: String, commit: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      need("work"), need("out"), m.getOrElse("commit", "unknown"))
  }
}

/** Latency samples in ms, appended from any thread. */
final class Samples {
  private val buf = mutable.ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = synchronized { buf += ms }
  def values: Seq[Double] = synchronized(buf.toList)
  def size: Int = synchronized(buf.size)
  def p50: Double = Stats.quantile(values, 0.5)
  def p90: Double = Stats.quantile(values, 0.9)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Quantile by linear interpolation between the closest ranks (the
    * inclusive method): steadier than nearest-rank on a few samples. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }
}

/** The state of one benchmark run: the session, the trace, the timed
  * region and its samples. Every timed op goes through [[write]] or
  * [[read]]: a thrown op is counted as failed and never becomes a
  * latency sample. */
final class Run(val o: Opts, val spark: SparkSession, val trace: Trace,
    val meter: Option[SparkMeter]) {
  val writes = new Samples
  val reads = new Samples
  val fresh = new Samples
  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  /** Input rows applied by successful ops. */
  val rows = new AtomicLong
  private val writeNames = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  @volatile var t0Ns = 0L
  @volatile var t1Ns = 0L
  private var gc0 = 0L
  var setupS = 0.0
  /** (persisted RDDs, cached MB) after each op of the traced run. */
  val cacheSeries = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def wallS: Double = (t1Ns - t0Ns) / 1e9
  /** The run's amount of work: `--seconds` divided by the nominal time
    * of one unit. Each workload does a fixed number of units, so wall_s
    * measures how fast the work went rather than where a deadline fell. */
  def units(unitS: Double): Int = math.max(1, math.round(o.seconds / unitS).toInt)

  /** Time the run spent on things that are not set-up (the calibration). */
  var excludedS = 0.0

  /** A run whose samples nobody reads: warm-up ops go through it. */
  def scratch(): Run = new Run(o, spark, new Trace(false), None)

  /** Starts the timed region. Set-up time is the process's uptime so
    * far (session, warm-up and input build), less the calibration. */
  def startClock(): Unit = {
    setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 -
      excludedS
    trace.phase = "run"
    gc0 = Host.gcMs()
    Host.resetHeapPeak()
    t0Ns = System.nanoTime()
  }
  def stopClock(): Unit = { t1Ns = System.nanoTime(); trace.phase = "check" }
  def gcMs: Double = (Host.gcMs() - gc0).toDouble

  def write[T](name: String, dueNs: Long = 0L)(f: => T): Option[T] = {
    writeNames.add(name); timed(writes, name, dueNs, (_: T) => true)(f)
  }
  def read[T](name: String)(f: => T): Option[T] = timed(reads, name, 0L, (_: T) => true)(f)
  /** A table service (compaction, clean): timed and counted like any
    * op, but a write sample only when `committed` holds for its result
    * (a compaction with nothing to fold makes no commit). */
  def service[T](name: String)(committed: T => Boolean)(f: => T): Option[T] = {
    writeNames.add(name); timed(writes, name, 0L, committed)(f)
  }

  /** Counts a failure outside any timed op (a client thread that died). */
  def fail(what: String, e: Throwable): Unit = {
    attemptedN.incrementAndGet()
    report(what, e)
  }
  private def report(what: String, e: Throwable): Unit = {
    failedN.incrementAndGet()
    System.err.println(s"[perfbench] $what failed: $e")
    e.printStackTrace()
  }

  private def timed[T](buf: Samples, name: String, dueNs: Long, keep: T => Boolean)(f: => T): Option[T] = {
    attemptedN.incrementAndGet()
    val start = if (dueNs > 0) dueNs else System.nanoTime()
    val sc = spark.sparkContext
    // the Spark listener buckets each job by the op open on the thread
    // that submitted it
    if (trace.on) sc.setLocalProperty(SparkMeter.OpKey, name)
    try {
      val r = trace.span("op." + name)(f)
      if (keep(r)) buf.add((System.nanoTime() - start) / 1e6)
      if (trace.on) {
        cacheSeries.add((sc.getPersistentRDDs.size,
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0))
      }
      Some(r)
    } catch {
      case NonFatal(e) =>
        report(s"op $name", e)
        None
    } finally if (trace.on) sc.setLocalProperty(SparkMeter.OpKey, null)
  }

  def isWrite(op: String): Boolean = writeNames.contains(op)

  /** p90 latencies. A run holds 10 to 44 samples of each kind, short of
    * the 100 a p90 with ten samples beyond it needs, so they are
    * reported (meta line, traced run) but carry no regression bound. */
  def p90s: Seq[(String, Double)] = Seq(
    "write_p90_ms" -> writes.p90, "read_p90_ms" -> reads.p90, "fresh_p90_ms" -> fresh.p90)

  /** End-to-end metrics common to every workload. */
  def endToEnd(spaceAmp: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("wall_s", wallS, "s"),
    ("write_p50_ms", writes.p50, "ms"),
    ("read_p50_ms", reads.p50, "ms"),
    ("fresh_p50_ms", fresh.p50, "ms"),
    ("rows_per_s", rows.get / wallS, "rows/s"),
    ("space_amp", spaceAmp, "ratio"),
    ("peak_rss_mb", Host.peakRssMb, "MB"))
}

object Host {
  /** Fixed-work CPU probe: the SplitMix64 loop of scripts/Calib.java
    * (2e8 steps, one thread), in ms. */
  def calibMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L; var acc = 0L; var i = 0L
    while (i < 200000000L) {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    if (acc == 42) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }

  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)))) catch { case NonFatal(_) => None }

  /** (total, idle+iowait, steal) jiffies of all CPUs, and this process's
    * user+system jiffies. */
  final case class Cpu(total: Long, idle: Long, steal: Long, self: Long)
  def cpu(): Option[Cpu] = for {
    stat <- read("/proc/stat")
    me <- read("/proc/self/stat")
  } yield {
    val f = stat.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    val mine = me.substring(me.lastIndexOf(')') + 2).split(" ")
    // fields after the command: state is index 0, utime 11, stime 12
    Cpu(f.take(8).sum, f(3) + f(4), if (f.length > 7) f(7) else 0L,
      mine(11).toLong + mine(12).toLong)
  }
  /** (steal fraction, co-tenant busy fraction) of the host between two
    * samples: CPU time stolen by the hypervisor, and CPU time other
    * processes kept busy, both as shares of all CPU time. */
  def shares(a: Option[Cpu], b: Option[Cpu]): (Double, Double) = (a, b) match {
    case (Some(x), Some(y)) if y.total > x.total =>
      val tot = (y.total - x.total).toDouble
      val busy = tot - (y.idle - x.idle) - (y.steal - x.steal)
      ((y.steal - x.steal) / tot, math.max(0.0, busy - (y.self - x.self)) / tot)
    case _ => (0.0, 0.0)
  }

  def peakRssMb: Double = read("/proc/self/status").flatMap(_.linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)).getOrElse(0.0)

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def rmrf(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_: Path))
      finally s.close()
    }
  }
}

/** Table-level helpers shared by the workloads. */
object Tables {
  /** (row count, order-independent hash sum) of `cols` of `df`. */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(cols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Bytes under the tables' directories divided by the bytes of their
    * live rows written once as plain parquet. */
  def spaceAmp(spark: SparkSession, tables: Seq[LakeTable], scratch: String): Double = {
    val stored = tables.map(t => Host.dirBytes(new java.net.URI(t.basePath).getPath)).sum
    val plain = tables.zipWithIndex.map { case (t, i) =>
      val p = s"$scratch/plain_$i"
      t.snapshot().drop(LakeTable.MetaCols: _*).write.mode("overwrite").parquet(p)
      val s = Files.walk(Paths.get(p))
      val b = try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(Files.size).sum finally s.close()
      Host.rmrf(p)
      b
    }.sum
    stored.toDouble / plain
  }

  /** Sizes of the files that commits after `since` added, per table. */
  final class WriteMeter(tables: () => Seq[LakeTable]) {
    private val mark = mutable.Map.empty[String, String]
    def reset(): Unit = tables().foreach(t =>
      mark(t.basePath) = t.timeline.latestInstant().getOrElse(""))
    /** Bytes of files committed since the last call. */
    def collect(): Long = tables().map { t =>
      val since = mark.getOrElse(t.basePath, "")
      val fresh = t.timeline.commits().filter(_.instant > since)
      fresh.lastOption.foreach(c => mark(t.basePath) = c.instant)
      val base = new java.net.URI(t.basePath).getPath
      fresh.flatMap(_.added).map { rel =>
        val f = Paths.get(base, rel)
        if (Files.exists(f)) Files.size(f) else 0L
      }.sum
    }.sum
  }

  /** Bytes of the table's live data files. */
  def liveBytes(t: LakeTable): Long = {
    val base = new java.net.URI(t.basePath).getPath
    t.timeline.liveFiles(None).map(f => Files.size(Paths.get(base, f.path))).sum
  }

  /** (active commits, live files, live MOR delta files) over `tables`. */
  def liveStats(tables: Seq[LakeTable]): (Double, Double, Double) = {
    val live = tables.map(_.timeline.liveFiles(None))
    (tables.map(_.timeline.commits().size).sum.toDouble,
      live.map(_.size).sum.toDouble, live.map(_.count(_.delta)).sum.toDouble)
  }
}
