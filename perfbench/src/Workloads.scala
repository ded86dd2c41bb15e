package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.core.MapReduceTask
import graft.ops.IndexQueries.{CustOrders, OrderCust}

/** One customer band of the downstream index: how many customers have an
  * order count in the band, and their order count and total. */
case class BandAgg(band: String, ncust: Long, cnt: Long, total: BigDecimal)

/** The downstream index the CDC consumer maintains: customers by
  * order-count band. Its documents are the upstream `OrdersByCust`
  * reduce rows, and a document's id is the upstream reduce key (the
  * customer key), as the CDC chain contract requires. */
object CustBands extends MapReduceTask[CustOrders, BandAgg] {
  def bandOf(cnt: Long): String =
    if (cnt <= 5) "a:1-5" else if (cnt <= 8) "b:6-8" else if (cnt <= 10) "c:9-10"
    else if (cnt <= 12) "d:11-12" else if (cnt <= 15) "e:13-15" else "f:16+"
  def map(docs: Iterator[CustOrders]): Iterator[(String, BandAgg)] =
    docs.map(c => (c.custkey.toString, BandAgg(bandOf(c.cnt), 1L, c.cnt, c.total)))
  def reduce(entries: Iterator[BandAgg]): Iterator[BandAgg] =
    entries.toSeq.groupBy(_.band).map { case (b, es) =>
      BandAgg(b, es.map(_.ncust).sum, es.map(_.cnt).sum, es.map(_.total).sum)
    }.iterator
  def reduceKey(e: BandAgg): String = e.band
  override def singleOutput: Boolean = true
  def documentId(d: CustOrders): String = d.custkey.toString
  override def deltaReducible: Boolean = true
  override def negate(e: BandAgg): BandAgg =
    BandAgg(e.band, -e.ncust, -e.cnt, -e.total)
  override def isZero(e: BandAgg): Boolean =
    e.ncust == 0L && e.cnt == 0L && e.total.signum == 0
}

/** The seeded document generator and the in-process oracle in one place:
  * every document the benchmark submits comes from here, and the
  * expected (count, total) per customer is kept from exactly those
  * documents. `scale` is the TPC-H scale factor the corpus mimics:
  * 1,500,000 orders per unit, over a tenth as many customers. */
final class Corpus(seed: Long, scale: Double) {
  private val nOrders: Int = math.max(1000, math.round(1500000 * scale).toInt)
  val customers: Int = nOrders / 10 - 1

  private val rng = new SplittableRandom(seed)
  // orderkey -> (custkey, price in cents); live orders also as an array
  // with swap-remove so a uniform pick is O(1).
  private val docs = mutable.LongMap.empty[(Long, Long)]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.LongMap.empty[Int]
  private val expected = mutable.LongMap.empty[(Long, Long)] // cust -> (cnt, cents)
  private var nextKey = 1L

  private def price(r: SplittableRandom): Long = 90000L + r.nextLong(50000000L)

  private def add(ok: Long, ck: Long, cents: Long): Unit = {
    docs(ok) = (ck, cents); slot(ok) = live.size; live += ok
    val (c, t) = expected.getOrElse(ck, (0L, 0L))
    expected(ck) = (c + 1, t + cents)
  }

  private def remove(ok: Long): (Long, Long) = {
    val (ck, cents) = docs.remove(ok).get
    val i = slot.remove(ok).get
    val last = live.last
    live(i) = last; if (last != ok) slot(last) = i
    live.remove(live.size - 1)
    val (c, t) = expected(ck)
    if (c == 1) expected.remove(ck) else expected(ck) = (c - 1, t - cents)
    (ck, cents)
  }

  // Every customer gets one order, the rest are spread uniformly, so
  // the index starts with exactly `customers` reduce keys.
  val initial: Vector[OrderCust] = (1 to nOrders).map { i =>
    val ck = if (i <= customers) i.toLong else 1L + rng.nextInt(customers)
    val ok = nextKey; nextKey += 1
    val cents = price(rng)
    add(ok, ck, cents)
    OrderCust(ok, ck, cents / 100.0)
  }.toVector

  /** A re-submission of `n` distinct live orders with new prices plus
    * `inserts` new orders; no document id repeats inside the batch. */
  def batch(n: Int, inserts: Int, r: SplittableRandom): Vector[OrderCust] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < n) picked += live(r.nextInt(live.size))
    val resub = picked.toVector.map { ok =>
      val (ck, _) = remove(ok)
      val cents = price(r)
      add(ok, ck, cents)
      OrderCust(ok, ck, cents / 100.0)
    }
    val fresh = Vector.fill(inserts) {
      val ok = nextKey; nextKey += 1
      val ck = 1L + r.nextInt(customers)
      val cents = price(r)
      add(ok, ck, cents)
      OrderCust(ok, ck, cents / 100.0)
    }
    resub ++ fresh
  }

  /** Removes one live order; returns (document id, its customer). */
  def deleteOne(r: SplittableRandom): (String, Long) = {
    val ok = live(r.nextInt(live.size))
    val (ck, _) = remove(ok)
    (s"orders-$ok", ck)
  }

  /** Expected (count, total) of a customer; None once it has no orders. */
  def expect(ck: Long): Option[(Long, BigDecimal)] =
    expected.get(ck).map { case (c, t) => (c, BigDecimal(t) / 100) }

  def expectAll: Map[Long, (Long, BigDecimal)] =
    expected.iterator.map { case (ck, (c, t)) => ck -> ((c, BigDecimal(t) / 100)) }.toMap
}

/** Zipf(1.0) over the customers, hot keys shuffled by the seed. */
final class Zipf(n: Int, seed: Long) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / (i + 1))
    var acc = 0.0
    val out = new Array[Double](n)
    for (i <- 0 until n) { acc += w(i); out(i) = acc }
    out.map(_ / acc)
  }
  private val perm: Array[Int] = {
    val a = Array.tabulate(n)(identity)
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }
  def next(r: SplittableRandom): Long = {
    val u = r.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    1L + perm(math.min(i, n - 1))
  }
}
