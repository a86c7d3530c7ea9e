package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints one JSON line. A short warmup first
  * (table reads + one tiny aggregate per input table) so measurements
  * reflect steady-state plans, not first-query JIT/codegen compile. */
object Bench {

  /** Host CPU ticks from the first `/proc/stat` line:
    * (steal, total, busy) where busy excludes idle/iowait/steal.
    * None off-Linux — every contention check then degrades to
    * "quiet". */
  private def hostTicks(): Option[(Long, Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    // first 8 fields only (user..steal): guest/guest_nice (9-10) are
    // already folded into user/nice by the kernel — summing them too
    // would understate the steal/other fractions on a KVM host
    val total = f.take(8).sum
    val steal = if (f.length > 7) f(7) else 0L
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    Some((steal, total, total - idle - steal))
  } catch { case _: Throwable => None }

  /** This JVM's own utime+stime ticks (same USER_HZ unit as
    * /proc/stat) — local[32] is one process, so host busy minus
    * self is CO-TENANT load. */
  private def selfTicks(): Long = try {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    val s = try src.mkString finally src.close()
    val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong
  } catch { case _: Throwable => 0L }

  /** Interference observed over one measurement window, as fractions
    * of total host CPU time: hypervisor steal, and busy time that was
    * NOT this JVM (other containers/processes on the box). */
  final case class Win(steal: Double, other: Double)

  private def window(h0: Option[(Long, Long, Long)], self0: Long): Win =
    (h0, hostTicks()) match {
      case (Some((s0, t0, b0)), Some((s1, t1, b1))) if t1 > t0 =>
        val tot = (t1 - t0).toDouble
        Win((s1 - s0) / tot,
          math.max(0.0, (b1 - b0) - (selfTicks() - self0)) / tot)
      case _ => Win(0.0, 0.0)
    }

  /** The host is quiet enough to trust a wall-clock number: <2%
    * steal and <10% co-tenant CPU (this box shows 9-22% steal in bad
    * windows and identical benches then vary 2-3×). */
  private def quiet(w: Win): Boolean = w.steal < 0.02 && w.other < 0.10

  private val calibSink = new java.util.concurrent.atomic.AtomicLong(0)

  /** Fixed-work CPU calibration: SplitMix64 mixed 2·10⁸ steps, single
    * thread. Its wall time measures EFFECTIVE host speed — catching
    * co-tenancy modes /proc/stat cannot see (identical runs on this
    * box have measured 1.4× apart with zero steal and an idle load
    * average: frequency/thermal/memory-bandwidth throttling). Emitted
    * per pass in the JSON so (a) within a run, samples from a pass
    * measurably slower than the run's best are not treated as quiet,
    * and (b) ACROSS runs, BENCH_rN/BENCH_rM totals can be normalized
    * by their calib ratio instead of reading host drift as repo
    * regressions. The sink defeats dead-code elimination. */
  private def calibrate(): Double = {
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
    calibSink.addAndGet(acc)
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // local FS without chmod shell-outs (no native hadoop lib here,
      // so every permission set is a ~20 ms exec; see
      // graft.core.BareLocalFileSystem) — removes a pure-overhead
      // fixed cost from every commit/checkpoint write that a cluster
      // deployment (object store / native HDFS) never pays
      .config("spark.hadoop.fs.file.impl",
        "graft.core.BareLocalFileSystem")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // CPU-contract proof (round-17 driver ask): the scaling probe at
    // sf0.1 reads ≈1 for every 8→32-core ratio, which is
    // indistinguishable from "the bench ignores $SPARK_GRAFT_CPUS".
    // Emit the evidence: the session's effective parallelism
    // (local[$cpus] ⇒ defaultParallelism == cpus) plus, per query, the
    // SUMMED executor task time and task count of the pass its min
    // came from — a query whose task_sec ≈ wall·cpus is CPU-parallel
    // (the wall is compute the cores absorb); task_sec ≪ wall·cpus
    // means the wall is serial fixed cost (commit cadence, job
    // scheduling, driver work) that MORE CORES CANNOT SHRINK, which is
    // the honest explanation of a flat ratio. Counters snapshot
    // per-sample around the timed action; listener delivery is
    // asynchronous, so a few ms of tail tasks may attribute to the
    // next query — noise at the seconds scale these prove.
    val taskMsAcc = new java.util.concurrent.atomic.AtomicLong(0)
    val taskCountAcc = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            taskMsAcc.addAndGet(m.executorRunTime)
            taskCountAcc.incrementAndGet()
            ()
          }
        }
      })

    // warmup: touch each table + exercise codegen/shuffle machinery and
    // every hot lake code path once at a realistic (small) size. The
    // first lake queries otherwise pay all the JIT for the window
    // merge, broadcast probe, vectorized parquet read/write and footer
    // reads — round-1 bench showed the first lake ops running 3-6x
    // slower than identical later ones purely from cold paths.
    try {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      Seq("lineitem", "orders", "customer", "documents", "embeddings")
        .foreach { t =>
          val df = spark.read.parquet(s"$sfDir/$t.parquet")
          df.limit(1000).groupBy(spark_partition_id()).count().count()
        }
      import graft.core.{LakeTable, TableProps}
      val batch = spark.range(3000).select(
        col("id").cast("int").as("id"),
        concat(lit("d"), (col("id") % 5).cast("string")).as("dt"),
        lit(1L).as("ts"),
        md5(col("id").cast("string")).as("v"))
      val wp = "target/graft_scratch/bench_warmup"
      LakeTable.drop(spark, wp)
      val wt = LakeTable.create(spark, wp, TableProps(
        "warmup", Seq("id"), Some("ts"), Seq("dt")))
      wt.upsert(batch) // empty-table insert path
      wt.upsert(batch.filter(col("id") % 3 === 0).withColumn("ts", lit(2L))) // probe + merge
      wt.delete(batch.filter(col("id") % 11 === 0).select("id", "dt")) // anti-join delete
      wt.merge(batch.filter(col("id") % 4 === 0).withColumn("ts", lit(3L)) // full-outer merge
        .withColumn("op", lit("UPDATE")),
        matchedUpdate = Some(col("op") === "UPDATE"))
      wt.snapshot().count()
      wt.incremental("0").count()
      LakeTable.drop(spark, wp)
      val mp = "target/graft_scratch/bench_warmup_mor"
      LakeTable.drop(spark, mp)
      val mt = LakeTable.create(spark, mp, TableProps(
        "warmup_mor", Seq("id"), Some("ts"), Seq("dt"), tableType = "mor"))
      mt.upsert(batch)
      mt.delete(batch.filter(col("id") % 13 === 0).select("id", "dt"))
      mt.snapshot().count() // merged (window) read path
      LakeTable.drop(spark, mp)
    } catch { case _: Throwable => () }

    // Two timed runs per query, report the min — taken as two FULL
    // passes over the whole query set, not back-to-back per query:
    // this box shows ±20%+ variance under contention and a contention
    // window lasts longer than one query, so back-to-back samples
    // spike together (driver r6 recorded q2 at 6.64 s where a clean
    // run measures 0.21 s). Separating the samples by a whole pass
    // (~1 min+) makes a min-across-passes survive any contention
    // window shorter than a pass. Min-of-2 is NOT enough when the
    // co-tenancy outlasts the whole bench (r8-r10 driver runs were
    // 1.2-1.4× a clean rerun on a handful of queries), so every
    // sample also measures host interference (/proc/stat steal +
    // co-tenant busy) over its own window, and queries with no
    // quiet-window sample are retried in detected-quiet windows
    // until settled or a deadline.
    val Runs = 2
    // optional local-iteration filter (comma-separated name
    // substrings); the driver never sets it, so its runs time the
    // full set
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.exists(kv._1.contains)))
    // per query: (wall sec, interference window, pass calib ms, pass
    // index) — the pass index lets the emitted min_pass map attribute
    // each query's min to the calibration of the pass it came from,
    // so cross-round normalization works per QUERY, not just totals
    val samples = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ListBuffer[(Double, Win, Double, Int)]]
    // (executor task ms, task count) per sample, same ListBuffer index
    // as `samples` — reported for the min-wall sample of each query
    val taskSamples = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ListBuffer[(Long, Long)]]
    val passCalibs = scala.collection.mutable.ListBuffer.empty[Double]
    // a query that throws on any pass is reported by name, keeps no
    // sample (a failure's wall is not a timing) and fails the run
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def runPass(qs: Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)]): Unit = {
      val calib = calibrate()
      passCalibs += calib
      val passIdx = passCalibs.size - 1
      qs.foreach { case (name, fn) =>
        val h0 = hostTicks(); val self0 = selfTicks()
        val tm0 = taskMsAcc.get(); val tc0 = taskCountAcc.get()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        val w = window(h0, self0)
        // queries may cache intermediates they reuse across branches;
        // don't let one query's cache skew the next one's measurement
        spark.catalog.clearCache()
        if (!ok) {
          failed += name
          samples.remove(name)
          taskSamples.remove(name)
        } else if (!failed(name)) {
          samples.getOrElseUpdate(name,
            scala.collection.mutable.ListBuffer.empty) += ((dt, w, calib, passIdx))
          taskSamples.getOrElseUpdate(name,
            scala.collection.mutable.ListBuffer.empty) +=
            ((taskMsAcc.get() - tm0, taskCountAcc.get() - tc0))
        }
      }
    }
    def failedJson: String =
      failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    calibrate() // JIT the calibration loop itself before the first use
    runPass(ordered)
    runPass(ordered)
    // only queries that never failed are retried and reported
    def timed = ordered.filterNot(q => failed(q._1))
    // retry budget anchored AFTER the base passes, so a contended
    // (slow) base run cannot eat it — retries matter most exactly
    // when the base passes were slow. ~6 min of retry room on top of
    // the ~6-7 min clean base keeps the worst case inside the
    // envelope prior rounds' driver runs tolerated.
    val deadlineMs = System.currentTimeMillis() +
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "360").toLong * 1000
    // recovery checkpoint: if anything kills the process during the
    // retry phase below (driver timeout, OOM), the base min-of-2
    // result survives on disk instead of the run producing nothing
    try {
      val prov = timed.map { case (n, _) =>
        s"\"" + n + "\":" + samples(n).map(_._1).min }
        .mkString("{", ",", "}")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get("target/bench_last.json"),
        (s"""{"metric":"total","value":${samples.values.map(_.map(_._1).min).sum},""" +
          s""""unit":"sec","runs":$Runs,"provisional":1,"failed":$failedJson,"queries":$prov,"sf":"$sfDir"}""" +
          "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // A query's number is trustworthy once it has ≥1 sample measured
    // in a quiet window — two for the streaming/sampling family,
    // whose wall time is micro-batch scheduling latency and stays
    // noisy even when quiet — and its two best samples agree within
    // 30% (the generic contention signature; retry cap bounds this).
    // the ONE trust predicate (settled() and the emitted quiet flags
    // both use it): interference-quiet AND from a pass whose
    // calibration was within 25% of the run's best — a pass the
    // calibration probe measured as slow is contended in some mode,
    // whatever /proc/stat said about it. bestCalib is re-read per
    // call: a faster retry pass retroactively disqualifies samples
    // from slower passes.
    def trusted(s: (Double, Win, Double, Int)): Boolean =
      quiet(s._2) && s._3 <= passCalibs.min * 1.25
    def settled(name: String): Boolean = {
      val ss = samples(name)
      val quietNeeded =
        if (name.matches("^st[0-9].*") || name.startsWith("samp")) 2 else 1
      val sorted = ss.map(_._1).sorted
      ss.count(trusted) >= quietNeeded &&
        // agreement check only above 0.5 s: sub-second queries carry
        // 30%+ of pure JIT/GC jitter yet contribute ~nothing to the
        // total, and retrying them wastes the bounded retry rounds
        (sorted.size < 2 || sorted(0) < 0.5 ||
          sorted(1) <= sorted(0) * 1.3)
    }
    // Sleep until the host looks quiet over a 2 s probe window (our
    // JVM is idle while probing, so co-tenant busy reads clean), then
    // rerun just the unsettled queries. Bounded by rounds + deadline.
    def waitQuiet(): Unit = {
      var done = false
      while (!done && System.currentTimeMillis() < deadlineMs) {
        val h0 = hostTicks(); val self0 = selfTicks()
        Thread.sleep(2000)
        done = quiet(window(h0, self0)) || hostTicks().isEmpty
      }
    }
    var extraRounds = 0
    var need = timed.filter(q => !settled(q._1))
    while (need.nonEmpty && extraRounds < 3 &&
        System.currentTimeMillis() < deadlineMs) {
      waitQuiet()
      // waitQuiet can sleep clear up to the deadline on a never-quiet
      // host; launching a retry pass then would overrun the declared
      // budget by a full pass — re-check before paying for one
      if (System.currentTimeMillis() < deadlineMs) {
        runPass(need)
        extraRounds += 1
        need = timed.filter(q => !settled(q._1))
      }
    }
    val results = timed.map { case (name, _) =>
      name -> samples(name).map(_._1).min
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query sample counts + whether any sample was quiet-window:
    // round-over-round comparisons can then account for differing
    // sample sizes instead of comparing min-of-2 against min-of-4
    val passCounts = timed.map { case (name, _) =>
      s"\"" + name + "\":" + samples(name).size }.mkString("{", ",", "}")
    val quietFlags = timed.map { case (name, _) =>
      s"\"" + name + "\":" +
        (if (samples(name).exists(trusted)) 1 else 0)
    }.mkString("{", ",", "}")
    // per-pass fixed-work CPU calibration (ms): the cross-run host-
    // speed anchor — compare two rounds' totals only after dividing
    // out their calib ratio. Rounded without the locale-sensitive f""
    // interpolator (a comma decimal separator would corrupt the JSON)
    val calibs = passCalibs.map(c => (math.round(c * 10) / 10.0).toString)
      .mkString("[", ",", "]")
    // pass index each query's min sample came from (indexes calib_ms):
    // lets a cross-round comparison normalize per QUERY by the calib
    // of the pass that actually produced its number
    val minPassByName = timed.map { case (name, _) =>
      name -> samples(name).minBy(_._1)._4 }
    val minPass = minPassByName.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // CPU-contract evidence for the min-wall sample of each query:
    // summed executor task time (sec, 3 dp) and task count — see the
    // listener comment above. task_sec/wall ≈ effective parallelism.
    val minIdxByName = timed.map { case (name, _) =>
      name -> samples(name).zipWithIndex.minBy(_._1._1)._2 }.toMap
    val taskSec = timed.map { case (name, _) =>
      f""""$name":${taskSamples(name)(minIdxByName(name))._1 / 1000.0}%.3f"""
    }.mkString("{", ",", "}")
    val taskCounts = timed.map { case (name, _) =>
      s"\"" + name + "\":" + taskSamples(name)(minIdxByName(name))._2
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$Runs,"extra_rounds":$extraRounds,"parallelism":${spark.sparkContext.defaultParallelism},"calib_ms":$calibs,"passes":$passCounts,"quiet":$quietFlags,"min_pass":$minPass,"task_sec":$taskSec,"tasks":$taskCounts,"failed":$failedJson,"queries":$qs,"sf":"$sfDir"}"""
    // The driver archives only the LAST 2000 chars of output into
    // BENCH_rN.json, and the main line puts calib_ms/value before the
    // 100+ query entries — the truncation used to eat exactly the
    // cross-round normalization anchor. Emit a second compact trailing
    // line that repeats it; min_pass here is POSITIONAL over the
    // queries sorted by name (same order as the main line), indexing
    // into calib_ms.
    val minPassArr = minPassByName.map(_._2).mkString("[", ",", "]")
    val tail =
      s"""{"calib_ms":$calibs,"total":$total,"extra_rounds":$extraRounds,"min_pass":$minPassArr,"failed":$failedJson}"""
    // compact per-query times (3 decimals — the full-precision map in
    // the main line runs ~4.5 kB and the driver archives only a 2 kB
    // output window, so the head of the query map was lost to
    // truncation for 14 rounds; this line, printed FIRST, keeps a
    // self-contained copy adjacent to whichever window edge survives,
    // and target/bench_last.json remains the complete record)
    val qCompact = timed.map { case (name, _) =>
      f""""$name":${samples(name).map(_._1).min}%.3f""" }
      .mkString("""{"queries":{""", ",", "}}")
    // Emit robustly: a contended driver run once truncated this line
    // mid-JSON. Print + hard flush BEFORE spark.stop() (whose shutdown
    // logging can interleave), and leave a recovery copy on disk. The
    // compact line brackets the main line — a head OR tail truncation
    // of the archived window still keeps one complete copy.
    println(qCompact)
    println(tail)
    println(line)
    println(tail)
    System.out.flush()
    Console.out.flush()
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_last.json"),
        (line + "\n" + tail + "\n" + qCompact + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
