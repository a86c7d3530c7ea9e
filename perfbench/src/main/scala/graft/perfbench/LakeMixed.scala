package graft.perfbench

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ColPred, LakeTable, TableProps}

/** One of the two keyed tables of `lake_mixed`, with its reference
  * state: the generated starting rows overlaid by every write the run
  * applied, so the final snapshot can be checked against a
  * last-writer-wins fold computed without the engine.
  *
  * Rows are grouped by order key `o`: a write picks order keys and
  * touches all rows of each (the lines of an order, or the order). */
final class Side[R <: Product: TypeTag](
    val name: String,
    /** order keys [0, orders) make up the starting table */
    val orders: Long,
    val orderKey: String,
    val partCol: String,
    val keyCols: Seq[String],
    /** column that marks a MERGE source row as a delete ("D") */
    val flagCol: String,
    val tableType: String,
    /** SQL UPDATE assignment and its effect on a row */
    val updateSql: String,
    val update: R => R,
    /** rows of order `o` at version `v` (0 = the starting rows) */
    val gen: (Long, Long) => Seq[R],
    keyOf: R => Any,
    flagOf: R => String,
    /** `r` with its flag column set to `f` */
    val flagged: (R, String) => R,
    /** one column to aggregate in reads */
    val measure: String,
    /** the table's share of one cycle of the write stream, in order */
    val script: Seq[String]) {
  var table: LakeTable = _
  private val overlay = mutable.HashMap.empty[Any, Option[R]]
  /** order keys in [0, next) exist or existed */
  var next: Long = orders

  private def initial(r: R, o: Long): Option[R] = if (o < orders) Some(r) else None
  def current(o: Long): Seq[R] = gen(o, 0).flatMap(r => overlay.getOrElse(keyOf(r), initial(r, o)))

  def upsert(rs: Seq[R]): Unit = rs.foreach(r => overlay(keyOf(r)) = Some(r))
  def delete(rs: Seq[R]): Unit = rs.foreach(r => overlay(keyOf(r)) = None)
  /** MERGE: matched and flagged deletes; matched updates; unmatched
    * unflagged rows insert. */
  def merge(src: Seq[(Long, R)]): Unit = src.foreach { case (o, r) =>
    val del = flagOf(r) == "D"
    if (overlay.getOrElse(keyOf(r), initial(r, o)).isDefined)
      overlay(keyOf(r)) = if (del) None else Some(r)
    else if (!del) overlay(keyOf(r)) = Some(r)
  }
  /** A frame of `rs`; the encoder needs this side's row type. */
  def frame(spark: SparkSession, rs: Seq[R]): DataFrame = spark.createDataFrame(rs)

  /** The starting table, generated on the executors. */
  def generate(spark: SparkSession)(implicit enc: Encoder[R]): DataFrame = {
    val g = gen
    spark.range(0, orders).flatMap(o => g(o.longValue, 0L)).toDF()
  }

  /** The reference table: starting rows not overwritten, plus the
    * overlay's live rows. */
  def reference(spark: SparkSession)(implicit enc: Encoder[R]): DataFrame = {
    val initial = generate(spark)
    val keyDf = spark.createDataFrame(overlay.keys.toSeq.collect {
      case (a: Long, b: Int) => (a, b)
      case a: Long => (a, 0)
    }).toDF("__k0", "__k1")
    val cond = keyCols.size match {
      case 1 => initial(keyCols.head) === keyDf("__k0")
      case _ => initial(keyCols(0)) === keyDf("__k0") && initial(keyCols(1)) === keyDf("__k1")
    }
    initial.join(keyDf, cond, "left_anti")
      .unionByName(spark.createDataFrame(overlay.values.flatten.toSeq).toDF())
  }
}

/** `lake_mixed`: a closed loop of one client alternating writes
  * between a COW `lineitem` table and a MOR `orders` table, each write
  * followed by reads of the written table.
  *
  * The write stream repeats a fixed cycle of ten writes, five per
  * table: seven upserts, a delete, a LakeTable.merge and a SQL UPDATE,
  * so every whole cycle has the 70/10/10/10 mix. Every seed runs the
  * same kinds in the same order; only keys and values vary. Keys are
  * Zipf-skewed toward the newest tenth of the order keys, the rows that
  * recent activity updates. */
final class LakeMixed(run: Run, orders: Long = Gen.Orders, catalog: String = "graft") {
  import run.{spark, trace}
  import spark.implicits._

  private val seed = run.o.seed
  private val rng = new Rng(Rng.mix(seed ^ 0x1a4eL))
  private val OrdersPerWrite = (orders / 100).toInt
  private val Window = orders / 10
  private val CompactEvery = 2
  private val CleanEvery = 3

  val lineitem = new Side[LineItem]("lineitem", orders, "l_orderkey", "l_shipyear",
    Seq("l_orderkey", "l_linenumber"), "l_returnflag", "cow",
    "l_linestatus = 'U', l_tax = 0.08", _.copy(l_linestatus = "U", l_tax = 0.08),
    LakeMixed.lines(seed), r => (r.l_orderkey, r.l_linenumber),
    _.l_returnflag, (r, f) => r.copy(l_returnflag = f), "l_quantity",
    Seq("upsert", "upsert", "sql_update", "upsert", "upsert"))
  val ordersSide = new Side[Order]("orders", orders, "o_orderkey", "o_orderyear",
    Seq("o_orderkey"), "o_orderstatus", "mor",
    "o_orderpriority = '0-BENCH', o_orderstatus = 'U'",
    _.copy(o_orderpriority = "0-BENCH", o_orderstatus = "U"),
    LakeMixed.orders(seed), r => r.o_orderkey,
    _.o_orderstatus, (r, f) => r.copy(o_orderstatus = f), "o_totalprice",
    Seq("upsert", "delete", "upsert", "merge", "upsert"))

  private def tables = Seq(lineitem.table, ordersSide.table)
  private lazy val writeMeter = new Tables.WriteMeter(() => tables)
  private val bytesPerRow = mutable.Map.empty[String, Double]

  /** Creates both tables under `wh` (the catalog's warehouse layout
    * `<wh>/bench/<table>`) and loads the starting rows. */
  private def build(wh: String): Unit = {
    def create[R <: Product: TypeTag: Encoder](s: Side[R]): LakeTable = {
      val t = LakeTable.create(spark, s"$wh/bench/${s.name}", TableProps(s.name,
        s.keyCols, None, Seq(s.partCol), tableType = s.tableType,
        statsColumns = Seq(s.orderKey)))
      t.insert(s.generate(spark))
      t
    }
    lineitem.table = create(lineitem)
    ordersSide.table = create(ordersSide)
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", wh)
  }

  /** Writes in a run: whole cycles of ten, one cycle per 16 s of
    * `--seconds`. */
  private def writes: Int = 10 * run.units(16.0)

  /** Every write kind of each table's script once, the reads once, a
    * compaction and a clean, on small tables: the timed ops then do not
    * pay first-use costs (class loading, JIT, plan code generation). */
  private def warmUp(dir: String): Unit = {
    build(dir)
    for (s <- Seq(lineitem, ordersSide)) {
      // the read step takes an op number that also runs the periodic reads
      for ((k, n) <- s.script.distinct.zipWithIndex) step(s, 5 * (n + 1), k, -1, reads = n == 0)
      maintain(s, CompactEvery * CleanEvery - 1)
    }
  }

  def execute(): Outcome = {
    val work = run.o.work
    new LakeMixed(run.scratch(), orders / 50, "graft_warm").warmUp(s"$work/warm")
    build(s"$work/wh")
    for (s <- Seq(lineitem, ordersSide))
      bytesPerRow(s.name) = Tables.liveBytes(s.table).toDouble /
        s.table.timeline.commits().map(_.totalRecords).sum
    if (trace.on) writeMeter.reset()

    run.startClock()
    for (i <- 1 to writes) {
      val s = if (i % 2 == 1) lineitem else ordersSide
      val nth = (i - 1) / 2
      step(s, i, s.script(nth % s.script.size), nth)
    }
    run.stopClock()

    val correct = Seq(check(lineitem), check(ordersSide)).forall(identity)
    val (commits, liveFiles, deltaFiles) = Tables.liveStats(tables)
    val skipped = trace.counter("skip.skipped")
    val considered = trace.counter("skip.considered")
    Outcome(correct, Tables.spaceAmp(spark, tables, s"$work/plain"), Map(
      "core.commits" -> commits, "core.live_files" -> liveFiles,
      "core.delta_files" -> deltaFiles,
      "core.skip_ratio" -> (if (considered > 0) skipped / considered else 0.0)))
  }

  /** A recent order key: Zipf over recency within the newest `Window`. */
  private def recent(s: Side[_]): Long = s.next - 1 - rng.zipfRank(Window)

  /** `n` distinct recent order keys. */
  private def pickOrders(s: Side[_], n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    var tries = 0
    while (out.size < n && tries < n * 50) { out += recent(s); tries += 1 }
    out.toSeq
  }
  private def newOrders(s: Side[_], n: Int): Seq[Long] = {
    val ks = s.next until s.next + n
    s.next += n
    ks
  }

  /** Write number `nth` of table `s` (op `i` of the run), then the reads
    * that follow it and any compaction or clean it is due. */
  private def step[R <: Product: TypeTag](s: Side[R], i: Int, kind: String, nth: Int,
      reads: Boolean = true): Unit = {
    val t = s.table
    val prev = t.timeline.latestInstant().getOrElse("0")
    val v = i.toLong
    val writeStart = System.nanoTime()
    val ok = kind match {
      case "upsert" =>
        val os = pickOrders(s, OrdersPerWrite * 9 / 10) ++ newOrders(s, OrdersPerWrite / 10)
        val rs = os.flatMap(s.gen(_, v))
        applied(run.write("upsert") {
          val df = s.frame(spark, rs)
          trace.span("core.upsert")(t.upsert(df))
        }, s, rs.size)(s.upsert(rs))
      case "delete" =>
        val rs = pickOrders(s, OrdersPerWrite).flatMap(s.gen(_, 0))
        applied(run.write("delete") {
          val keys = s.frame(spark, rs).select((s.keyCols :+ s.partCol).map(col): _*)
          trace.span("core.delete")(t.delete(keys))
        }, s, rs.size)(s.delete(rs))
      case "merge" =>
        val src = mergeSource(s, v)
        applied(run.write("merge") {
          val df = s.frame(spark, src.map(_._2))
          val f = col(s.flagCol)
          trace.span("core.merge")(t.merge(df, Some(f =!= "D"), Some(f === "D"), Some(f =!= "D")))
        }, s, src.size)(s.merge(src))
      case "sql_update" => sqlUpdate(s)
    }

    if (ok && reads) {
      incrementalRead(s, prev).foreach(_ => run.fresh.add((System.nanoTime() - writeStart) / 1e6))
      pointLookup(s)
      partitionAggregate(s)
      rangeRead(s)
      if (i % 5 == 0) {
        timeTravel(s)
        run.read("show_commits") {
          trace.span("sql.call")(spark.sql(
            s"CALL $catalog.system.show_commits(`table` => 'bench.${s.name}')").collect().length)
        }
      }
    }
    if (nth >= 0) maintain(s, nth)
  }

  /** The MOR table compacts every `CompactEvery` writes; both tables
    * clean and archive every `CleanEvery` writes, at fixed retention. */
  private def maintain(s: Side[_], nth: Int): Unit = {
    val t = s.table
    if (s.tableType == "mor" && (nth + 1) % CompactEvery == 0)
      applied(run.service("compact")((_: Option[String]).isDefined) {
        trace.span("core.compact")(t.compact())
      }, s, 0)(())
    if ((nth + 1) % CleanEvery == 0)
      applied(run.service("clean")((_: Int) => false) {
        trace.span("core.clean") { t.clean(4); t.archive(8, 12) }
      }, s, 0)(())
  }

  /** Applies the reference update of a successful write and counts its
    * rows and (traced) bytes. */
  private def applied(r: Option[Any], s: Side[_], rows: Int)(ref: => Unit): Boolean = {
    if (r.isDefined) {
      ref
      run.rows.addAndGet(rows.toLong)
      if (trace.on) {
        trace.count("core.bytes_written", writeMeter.collect().toDouble)
        trace.count("core.input_bytes", rows * bytesPerRow.getOrElse(s.name, 0.0))
      }
    }
    r.isDefined
  }

  /** 80% updates, 5% flagged deletes and 15% inserts of new orders. */
  private def mergeSource[R <: Product](s: Side[R], v: Long): Seq[(Long, R)] = {
    val upd = pickOrders(s, OrdersPerWrite * 85 / 100)
    val (keep, gone) = upd.splitAt(upd.size * 80 / 85)
    keep.flatMap(o => s.gen(o, v).map(o -> _)) ++
      gone.flatMap(o => s.gen(o, v).map(r => o -> s.flagged(r, "D"))) ++
      newOrders(s, OrdersPerWrite * 15 / 100).flatMap(o => s.gen(o, v).map(o -> _))
  }

  /** SQL UPDATE through the catalog over a range of existing recent
    * order keys (about 1% of the rows). */
  private def sqlUpdate[R <: Product](s: Side[R]): Boolean = {
    val hi = s.next - rng.zipfRank(Window - OrdersPerWrite)
    val lo = hi - OrdersPerWrite
    val affected = (lo until hi).flatMap(o => s.current(o))
    applied(run.write("sql_update") {
      trace.span("sql.dml")(spark.sql(s"UPDATE $catalog.bench.${s.name} " +
        s"SET ${s.updateSql} WHERE ${s.orderKey} >= $lo AND ${s.orderKey} < $hi"))
    }, s, affected.size)(s.upsert(affected.map(s.update)))
  }

  private def sqlRead(name: String, q: String): Option[Int] = run.read(name) {
    val df = trace.span("sql.plan") {
      val d = spark.sql(q); d.queryExecution.executedPlan; d
    }
    trace.span("sql.exec")(df.collect().length)
  }

  private def incrementalRead(s: Side[_], prev: String): Option[Long] = run.read("incremental") {
    val df = trace.span("core.snapshot_plan")(s.table.incremental(prev))
    trace.span("core.read_exec")(df.agg(count(lit(1))).head().getLong(0))
  }

  private def pointLookup(s: Side[_]): Option[Int] = {
    val extra = if (s.keyCols.size > 1) s" AND ${s.keyCols(1)} = 1" else ""
    sqlRead("point_lookup",
      s"SELECT * FROM $catalog.bench.${s.name} WHERE ${s.orderKey} = ${recent(s)}$extra")
  }

  private def partitionAggregate(s: Side[_]): Option[Int] = {
    val y = s.gen(recent(s), 0).head match {
      case r: LineItem => r.l_shipyear
      case r: Order => r.o_orderyear
    }
    val groups = if (s.name == "lineitem") "l_returnflag, l_linestatus" else "o_orderstatus"
    sqlRead("partition_agg", s"SELECT $groups, count(*), sum(${s.measure}) " +
      s"FROM $catalog.bench.${s.name} WHERE ${s.partCol} = $y GROUP BY $groups")
  }

  private def rangeRead(s: Side[_]): Option[Long] = run.read("range_skip") {
    val lo = recent(s)
    val hi = lo + OrdersPerWrite / 10
    val (df, st) = trace.span("core.snapshot_plan")(s.table.snapshotSkipping(Seq(
      ColPred(s.orderKey, "ge", Seq(lo.toString), isLong = true),
      ColPred(s.orderKey, "le", Seq(hi.toString), isLong = true))))
    trace.count("skip.skipped", st.skipped)
    trace.count("skip.considered", st.skipped + st.kept)
    trace.span("core.read_exec")(df.filter(col(s.orderKey).between(lo, hi))
      .agg(count(lit(1))).head().getLong(0))
  }

  private def timeTravel(s: Side[_]): Option[Int] = {
    val cs = s.table.timeline.commits()
    if (cs.size < 2) None
    else sqlRead("version_as_of", s"SELECT count(*), sum(${s.measure}) FROM " +
      s"$catalog.bench.${s.name} VERSION AS OF '${cs(cs.size - 2).instant}'")
  }

  private def check[R <: Product: TypeTag](s: Side[R])(implicit enc: Encoder[R]): Boolean = {
    val cols = s.table.schema.fieldNames.toSeq
    val got = Tables.fingerprint(s.table.snapshot(), cols)
    val want = Tables.fingerprint(s.reference(spark), cols)
    if (got != want) System.err.println(s"[perfbench] ${s.name}: snapshot $got != reference $want")
    got == want
  }
}

object LakeMixed {
  // built here, not in the class, so the closures shipped to executors
  // capture only the seed
  def lines(seed: Long): (Long, Long) => Seq[LineItem] = (o, v) => Gen.lineItems(seed, o, v)
  def orders(seed: Long): (Long, Long) => Seq[Order] = (o, v) => Seq(Gen.order(seed, o, v))
}
