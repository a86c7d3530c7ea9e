package graft.perfbench

import java.sql.Timestamp

/** SplitMix64, the one random source of every workload: the same seed
  * gives the same tables, batches and schedules. */
final class Rng(seed: Long) {
  private var x = seed
  def nextLong(): Long = { x += 0x9e3779b97f4a7c15L; Rng.mix(x) }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def chance(p: Double): Boolean = nextDouble() < p

  /** Zipf(s = 1) rank in [0, n): log-uniform, so rank r is drawn with
    * probability proportional to 1 / (r + 1). */
  def zipfRank(n: Long): Long =
    math.min(n - 1, math.exp(nextDouble() * math.log(n.toDouble + 1)).toLong - 1)
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** Stateless hash of (seed, a, b): per-key values without a shared
    * generator, so executors and the driver derive identical rows. */
  def hash(seed: Long, a: Long, b: Long): Long =
    mix(mix(seed ^ mix(a + 0x632be59bd9b4e019L)) + b)
  def pick(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt
}

/** TPC-H-shaped lineitem row (testdata schema) plus its partition
  * column `l_shipyear`. */
final case class LineItem(
    l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
    l_quantity: Double, l_extendedprice: Double, l_discount: Double,
    l_tax: Double, l_returnflag: String, l_linestatus: String,
    l_shipdate: Timestamp, l_shipyear: Int)

/** TPC-H-shaped orders row (testdata schema) plus its partition column
  * `o_orderyear`. */
final case class Order(
    o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String,
    o_orderyear: Int)

/** Row generators. Every value is a pure function of (seed, key,
  * version): version 0 is the row a table starts with, a later version
  * is the row a write replaces it with. Dates grow with the order key,
  * so recent keys land in recent partitions, and a key's partition
  * never changes across versions. */
object Gen {
  /** 40k orders, about 160k lines: a quarter of the sf0.1 cardinalities. */
  val Orders: Long = 40000L
  private val Day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay
  private val SpanDays = 2557L // 1992-01-01 .. 1998-12-31

  def linesOf(seed: Long, o: Long): Int = 1 + Rng.pick(Rng.hash(seed, o, 0), 7)

  private def orderDay(seed: Long, o: Long): Long =
    Day0 + o * SpanDays / Orders + Rng.pick(Rng.hash(seed, o, 1), 30)
  private def ts(day: Long): Timestamp = new Timestamp(day * 86400000L)
  private def year(day: Long): Int = java.time.LocalDate.ofEpochDay(day).getYear
  private def cents(h: Long, lo: Int, hi: Int): Double =
    (lo * 100L + Rng.pick(h, (hi - lo) * 100)) / 100.0

  def lineItem(seed: Long, o: Long, line: Int, version: Long): LineItem = {
    val ship = orderDay(seed, o) + 1 + Rng.pick(Rng.hash(seed, o * 8 + line, 2), 120)
    val h = Rng.hash(seed, o * 8 + line, 1000 + version)
    val flags = Array("A", "N", "R")
    LineItem(o, 1 + Rng.pick(h, 20000), 1 + Rng.pick(h >>> 7, 1000), line,
      (1 + Rng.pick(h >>> 13, 50)).toDouble, cents(h >>> 19, 900, 100000),
      Rng.pick(h >>> 29, 11) / 100.0, Rng.pick(h >>> 33, 9) / 100.0,
      flags(Rng.pick(h >>> 37, 3)), if (((h >>> 41) & 1L) == 0) "O" else "F",
      ts(ship), year(ship))
  }

  def lineItems(seed: Long, o: Long, version: Long): Seq[LineItem] =
    (1 to linesOf(seed, o)).map(lineItem(seed, o, _, version))

  def order(seed: Long, o: Long, version: Long): Order = {
    val day = orderDay(seed, o)
    val h = Rng.hash(seed, o, 2000 + version)
    val status = Array("O", "F", "P")
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    Order(o, 1 + Rng.pick(h, 15000), status(Rng.pick(h >>> 9, 3)),
      cents(h >>> 17, 900, 500000), ts(day), prio(Rng.pick(h >>> 41, 5)), year(day))
  }

  // ------------------------------------------------------------ documents

  private val Vocab = Array("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "a", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "customer", "join", "vector", "the",
    "lake", "commit", "file", "index", "delta", "base", "token", "page")
  private val Langs = Array("en", "en", "en", "de", "fr", "zh")

  /** A fifth of the sf0.1 documents: 1000 base docs; every tenth has a
    * seeded near-duplicate variant (one word swapped) under id 1000 + i. */
  val BaseDocs: Int = 1000

  def text(seed: Long, id: Long, version: Long): String = {
    val h = Rng.hash(seed, id, 3000 + version)
    val n = 8 + Rng.pick(h, 60)
    (0 until n).map(i => Vocab(Rng.pick(Rng.hash(seed, h, i), Vocab.length)))
      .mkString(" ")
  }

  /** `t` with the word at a seeded position replaced: a near-duplicate. */
  def nearDup(seed: Long, t: String, salt: Long): String = {
    val w = t.split(" ")
    val h = Rng.hash(seed, salt, 4000)
    w(Rng.pick(h, w.length)) = Vocab(Rng.pick(h >>> 17, Vocab.length))
    w.mkString(" ")
  }

  /** (doc_id, text) of the starting corpus. */
  def corpus(seed: Long): Seq[(Long, String)] = {
    val base = (0 until BaseDocs).map(i => i.toLong -> text(seed, i, 0))
    base ++ base.filter(_._1 % 10 == 0).map { case (i, t) =>
      (BaseDocs + i) -> nearDup(seed, t, i)
    }
  }

  def docMeta(seed: Long, id: Long): (String, String) = {
    val h = Rng.hash(seed, id, 5000)
    (Langs(Rng.pick(h, Langs.length)), s"src${Rng.pick(h >>> 11, 5)}")
  }

  /** One churn increment touching `share` of `docs` (which it updates
    * to the new state): 40% of it inserts (half of them near-duplicates
    * of a live doc), 40% text edits and 20% deletes. Returns (upserts,
    * deletes). */
  def churn(rng: Rng, seed: Long, docs: scala.collection.mutable.Map[Long, String],
      share: Double, nextId: () => Long): (Seq[(Long, String)], Seq[Long]) = {
    val n = (docs.size * share).toInt
    val live = docs.keys.toArray.sorted
    val up = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    val del = scala.collection.mutable.LinkedHashSet.empty[Long]
    for (_ <- 0 until math.max(1, n * 2 / 5)) {
      val id = nextId()
      up(id) = if (rng.chance(0.5)) nearDup(seed, docs(live(rng.nextInt(live.length))), id)
        else text(seed, id, 0)
    }
    for (_ <- 0 until math.max(1, n * 2 / 5)) {
      val id = live(rng.nextInt(live.length))
      up(id) = nearDup(seed, docs(id), rng.nextLong())
    }
    for (_ <- 0 until math.max(1, n / 5)) {
      val id = live(rng.nextInt(live.length))
      if (!up.contains(id)) del += id
    }
    up.foreach { case (k, v) => docs(k) = v }
    del.foreach(docs.remove)
    (up.toSeq, del.toSeq)
  }
}
