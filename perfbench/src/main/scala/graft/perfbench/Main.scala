package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload returns: its correctness verdict, its space
  * amplification and the per-layer values only it can measure. */
final case class Outcome(correct: Boolean, spaceAmp: Double, layer: Map[String, Double])

/** Minimal JSON rendering: `Obj` keeps field order. */
final case class Obj(fields: (String, Any)*)
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => apply(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: Map[_, _] => apply(Obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1): _*))
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(Obj(p.productElementNames.toSeq.zip(p.productIterator.toSeq): _*))
    case x => apply(x.toString)
  }
}

/** Entry point: `--workload <lake_mixed|curation_batch|cdc_services>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * [--cores <n>] [--commit <id>]`. Prints a `{"meta": ...}` line and,
  * last, the result line; exits 1 when an op failed or the outputs are
  * wrong. */
object Main {
  /** Per-layer metrics of the traced run, with units; reported for
    * every workload (0 where a layer is not exercised). */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.upsert_ms" -> "ms", "core.delete_ms" -> "ms", "core.merge_ms" -> "ms",
    "core.compact_ms" -> "ms", "core.clean_ms" -> "ms",
    "core.snapshot_plan_ms" -> "ms", "core.read_exec_ms" -> "ms",
    "core.commits" -> "count", "core.live_files" -> "count",
    "core.delta_files" -> "count", "core.skip_ratio" -> "ratio",
    "core.bytes_written_mb" -> "MB", "core.write_amp" -> "ratio",
    "core.occ_retries" -> "count",
    "sql.plan_ms" -> "ms", "sql.exec_ms" -> "ms", "sql.dml_ms" -> "ms", "sql.call_ms" -> "ms",
    "queries.pairs" -> "count",
    "streaming.batches" -> "count", "streaming.batch_ms" -> "ms",
    "streaming.offset_ms" -> "ms", "streaming.addbatch_ms" -> "ms",
    "streaming.commit_ms" -> "ms", "streaming.rows_per_batch" -> "rows",
    "streaming.backlog_max" -> "commits", "streaming.gen_late_ms" -> "ms",
    "spark.task_sec" -> "s", "spark.tasks" -> "count", "spark.stages" -> "count",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.parallel_eff" -> "ratio",
    "spark.jobs" -> "count", "spark.jobs_per_write" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "driver.persisted_rdds" -> "count", "driver.cached_mb" -> "MB",
    "error_rate" -> "ratio",
    "write_p90_ms" -> "ms", "read_p90_ms" -> "ms", "fresh_p90_ms" -> "ms")

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      // the engine's own driver settings (graft.Bench)
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.core.BareLocalFileSystem")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val calib = Host.calibMs()
    val spark = session(o)
    val trace = new Trace(o.trace)
    val meter = if (o.trace) {
      val m = new SparkMeter(trace); spark.sparkContext.addSparkListener(m); Some(m)
    } else None
    val run = new Run(o, spark, trace, meter)
    run.excludedS = calib / 1000.0
    val cpu0 = Host.cpu()
    val outcome = try o.workload match {
      case "lake_mixed" => Some(new LakeMixed(run).execute())
      case "curation_batch" => Some(new CurationBatch(run).execute())
      case "cdc_services" => Some(new CdcServices(run).execute())
      case w => System.err.println(s"[perfbench] unknown workload $w"); None
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] workload aborted: $e"); e.printStackTrace(); None
    }
    val cpu1 = Host.cpu()
    outcome match {
      case None =>
        spark.stop(); System.exit(2)
      case Some(out) =>
        org.apache.spark.perfbenchshim.ListenerBus.drain(spark.sparkContext)
        val (steal, cotenant) = Host.shares(cpu0, cpu1)
        val layer = perLayer(run, out)
        val e2e = run.endToEnd(out.spaceAmp)
        val coverage = if (o.trace) trace.coverage(run.t0Ns, run.t1Ns) else 0.0
        writeTrace(run, layer, coverage)
        println(Json(Map("meta" -> Obj(
          "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
          "seconds" -> o.seconds, "trace" -> o.trace, "commit" -> o.commit,
          "calib_ms" -> calib, "steal_frac" -> steal, "cotenant_frac" -> cotenant,
          "samples" -> Obj("write" -> run.writes.size, "read" -> run.reads.size,
            "fresh" -> run.fresh.size),
          "p90_ms" -> Obj(run.p90s: _*),
          "error_rate" -> run.failed.toDouble / math.max(1L, run.attempted),
          "wall_s" -> run.wallS, "top_span_coverage" -> coverage,
          "self_ms_by_layer" -> (if (o.trace) trace.selfMsByLayer else Map.empty)))))
        val metrics =
          if (o.trace) PerLayer.map { case (n, u) => n -> Obj("value" -> layer.getOrElse(n, 0.0), "unit" -> u) }
          else e2e.map { case (n, v, u) => n -> Obj("value" -> v, "unit" -> u) }
        val ok = out.correct && run.failed == 0
        println(Json(Obj("correct" -> out.correct, "attempted" -> run.attempted,
          "failed" -> run.failed, "metrics" -> Obj(metrics: _*))))
        System.out.flush()
        spark.stop()
        System.exit(if (ok) 0 else 1)
    }
  }

  private def perLayer(run: Run, out: Outcome): Map[String, Double] = {
    val t = run.trace
    def med(n: String) = Stats.median(t.durations(n))
    val inBytes = t.counter("core.input_bytes")
    val timed = run.meter.map(_.total(b => b != "setup" && b != "check"))
    val writes = run.meter.map(_.total(run.isWrite))
    val busyS = t.coverage(run.t0Ns, run.t1Ns) * run.wallS
    val (rdds, cachedMb) = run.cacheSeries.asScala.lastOption.getOrElse((0, 0.0))
    val gates = Seq("dedup1_exact", "dedup2_minhash_lsh", "dedup5_prefix_jaccard")
    Map(
      "core.upsert_ms" -> med("core.upsert"), "core.delete_ms" -> med("core.delete"),
      "core.merge_ms" -> med("core.merge"), "core.compact_ms" -> med("core.compact"),
      "core.clean_ms" -> med("core.clean"),
      "core.snapshot_plan_ms" -> med("core.snapshot_plan"),
      "core.read_exec_ms" -> med("core.read_exec"),
      "core.bytes_written_mb" -> t.counter("core.bytes_written") / 1048576.0,
      "core.write_amp" -> (if (inBytes > 0) t.counter("core.bytes_written") / inBytes else 0.0),
      "core.occ_retries" -> t.counter("core.occ_retries"),
      "sql.plan_ms" -> med("sql.plan"), "sql.exec_ms" -> med("sql.exec"),
      "sql.dml_ms" -> med("sql.dml"), "sql.call_ms" -> med("sql.call"),
      "queries.dedup_ms" -> t.durationsWithPrefix("queries.dedup.").sum,
      "queries.reconcile_ms" -> med("queries.reconcile"),
      "queries.bm25_maintain_ms" -> med("queries.bm25_maintain"),
      "queries.score_ms" -> med("queries.score"),
      "spark.task_sec" -> timed.map(_.taskMs / 1000.0).getOrElse(0.0),
      "spark.tasks" -> timed.map(_.tasks.toDouble).getOrElse(0.0),
      "spark.stages" -> timed.map(_.stages.toDouble).getOrElse(0.0),
      "spark.shuffle_read_mb" -> timed.map(_.shuffleRead / 1048576.0).getOrElse(0.0),
      "spark.shuffle_write_mb" -> timed.map(_.shuffleWrite / 1048576.0).getOrElse(0.0),
      "spark.spill_mb" -> timed.map(_.spill / 1048576.0).getOrElse(0.0),
      "spark.parallel_eff" -> timed.map(x =>
        if (busyS > 0) x.taskMs / 1000.0 / (busyS * run.o.cores) else 0.0).getOrElse(0.0),
      "spark.jobs" -> timed.map(_.jobs.toDouble).getOrElse(0.0),
      "spark.jobs_per_write" -> writes.map(_.jobs.toDouble / math.max(1, run.writes.size)).getOrElse(0.0),
      "jvm.gc_ms" -> run.gcMs, "jvm.heap_peak_mb" -> Host.heapPeakMb,
      "driver.persisted_rdds" -> rdds.toDouble, "driver.cached_mb" -> cachedMb,
      "error_rate" -> run.failed.toDouble / math.max(1L, run.attempted)
    ) ++ run.p90s ++ gates.map(g => s"queries.${g}_ms" -> t.durations(s"queries.dedup.$g").sum) ++ out.layer
  }

  /** The traced run's spans, per-layer self time and per-op Spark
    * totals, as one JSON file under `--out`. */
  private def writeTrace(run: Run, layer: Map[String, Double], coverage: Double): Unit =
    if (run.trace.on) {
      val t0 = run.t0Ns
      val spans = run.trace.all.map(s => Obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6, "dur_ms" -> s.ms))
      val spark = run.meter.map(_.byBucket.toMap.map { case (b, x) =>
        b -> Obj("jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
          "task_sec" -> x.taskMs / 1000.0, "shuffle_read_mb" -> x.shuffleRead / 1048576.0,
          "shuffle_write_mb" -> x.shuffleWrite / 1048576.0, "spill_mb" -> x.spill / 1048576.0)
      }).getOrElse(Map.empty)
      val o = run.o
      val doc = Obj("workload" -> o.workload, "seed" -> o.seed, "wall_s" -> run.wallS,
        "top_span_coverage" -> coverage, "self_ms_by_layer" -> run.trace.selfMsByLayer,
        "per_layer" -> layer, "spark_by_op" -> spark,
        "cache_after_op" -> run.cacheSeries.asScala.map { case (n, mb) =>
          Obj("persisted_rdds" -> n, "cached_mb" -> mb)
        },
        "spans" -> spans)
      val p = Paths.get(o.out, s"trace-${o.workload}-s${o.seed}.json")
      Files.createDirectories(p.getParent)
      Files.write(p, Json(doc).getBytes(StandardCharsets.UTF_8))
      ()
    }
}
