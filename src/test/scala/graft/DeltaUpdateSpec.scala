package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig, MapReduceTask}

/** Count-by-state with the abelian-group declaration: the engine
  * maintains it by deltas. Docs with state "SKIP" map to NOTHING — the
  * zero-entry document shape (`Executer.cs:89-91`): re-submitting a doc
  * as SKIP must retract its old contribution and add none. Poisonable
  * reduce for the crash-window test. */
object DeltaCountByState extends MapReduceTask[Person, StatePop] {
  @volatile var poison = false
  def map(docs: Iterator[Person]): Iterator[(String, StatePop)] =
    docs.filter(_.state != "SKIP").map(p => (p.id, StatePop(p.state, 1L)))
  def reduce(entries: Iterator[StatePop]): Iterator[StatePop] = {
    if (poison) throw new RuntimeException("poisoned reduce (test)")
    entries.toSeq.groupBy(_.state)
      .map { case (s, es) => StatePop(s, es.map(_.count).sum) }.iterator
  }
  def reduceKey(e: StatePop): String = e.state
  def documentId(p: Person): String = p.id
  override def singleOutput: Boolean = true
  override def deltaReducible: Boolean = true
  override def negate(e: StatePop): StatePop = e.copy(count = -e.count)
  override def isZero(e: StatePop): Boolean = e.count == 0L
}

/** Delta maintenance for abelian-group tasks (SURVEY §16.6 #1, decided
  * in r8): pins (1) delta ≡ recompute over a randomized churn schedule
  * including re-keying, zero-entry retractions, and pure inserts;
  * (2) a key whose count reaches the group identity DISAPPEARS, exactly
  * like an empty group under recompute; (3) the join-pruned distributed
  * delta variant (dirty pairs past the driver limit) agrees too;
  * (4) a kill inside the delta's merge job leaves the store on the
  * previous published generation, recovery replays the WAL through the
  * RECOMPUTE path, and re-submitting completes the batch. */
class DeltaUpdateSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val cfg = ExecuterConfig(fanIn = 8, finalParts = 4)

  private def allCounts(ex: Executer[Person, StatePop]): Map[String, Long] =
    ex.queryAll().as[(String, String, Long)].collect()
      .map { case (_, s, c) => s -> c }.toMap

  test("randomized churn: delta-maintained state equals the driver-side " +
      "recompute model after every batch") {
    val store = TestTmp.dir("graft-delta")
    val ex = new Executer(DeltaCountByState, store, cfg)
    val rnd = new scala.util.Random(42)
    val model = scala.collection.mutable.Map[String, String]()
    for (round <- 0 until 6) {
      val ids = rnd.shuffle((0 until 100).toList).take(40)
      val batch = ids.map { i =>
        val st = if (rnd.nextInt(10) == 0) "SKIP" else s"S${rnd.nextInt(10)}"
        Person(s"d$i", st)
      }
      ex.execute(spark.createDataset(batch))
      batch.foreach(p => model(p.id) = p.state)
      val expected = model.values.filter(_ != "SKIP")
        .groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
      assert(allCounts(ex) == expected, s"round $round diverged")
      if (round > 0) {
        assert(ex.lastStats.get.mode == "delta")
        // The delta's job count is a small constant — probe, WAL,
        // append, merge/write — never a function of key count or
        // corpus size (the O(batch) claim as a regression net).
        assert(ex.lastStats.get.sparkJobs <= 10,
          s"delta ran ${ex.lastStats.get.sparkJobs} jobs")
      }
    }
    // The maintained state survives a fresh open (published generation).
    val ex2 = new Executer(DeltaCountByState, store, cfg)
    assert(allCounts(ex2) == allCounts(ex))
  }

  test("a key whose contributions all retract reaches the identity and " +
      "disappears") {
    val store = TestTmp.dir("graft-delta-zero")
    val ex = new Executer(DeltaCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))
    // Both CA docs move away — one re-keys, one retracts to nothing.
    ex.execute(spark.createDataset(Seq(
      Person("a", "TX"), Person("b", "SKIP"))))
    assert(ex.lastStats.get.mode == "delta")
    assert(allCounts(ex) == Map("TX" -> 2L))
    assert(ex.query("CA").collect().isEmpty)
  }

  test("join-pruned distributed delta (dirty pairs past the driver " +
      "limit) agrees with the model") {
    val store = TestTmp.dir("graft-delta-dist")
    // driverDirtyLimit 64: a 100-doc re-keying batch overflows the pairs
    // probe, driving the semi/anti-join delta spelling.
    val ex = new Executer(DeltaCountByState, store,
      cfg.copy(driverDirtyLimit = 64))
    val base = (0 until 200).map(i => Person(s"d$i", s"K$i"))
    ex.execute(spark.createDataset(base))
    val upd = (0 until 100).map(i => Person(s"d$i", s"M$i"))
    ex.execute(spark.createDataset(upd))
    assert(ex.lastStats.get.mode == "delta")
    val expected = ((100 until 200).map(i => s"K$i" -> 1L) ++
      (0 until 100).map(i => s"M$i" -> 1L)).toMap
    assert(allCounts(ex) == expected)
  }

  test("overflowed probe with mostly-new docs still retracts the few " +
      "resubmitted ones (ADVICE r8: sampled staleness)") {
    // The pairs probe truncates at driverDirtyLimit+1 rows; a batch of
    // ~2000 NEW docs plus 2 resubmitted ones fills the sample with
    // is_stale=false rows with high probability, so a delta path that
    // trusts the sampled staleness skips tombstoning and old-row
    // negation: d0 double-counts under both its old and new key and
    // d1's zero-entry retraction is lost. Two rounds drive the
    // pre-fix miss probability to ~0.996.
    val store = TestTmp.dir("graft-delta-overflow-stale")
    val ex = new Executer(DeltaCountByState, store,
      cfg.copy(driverDirtyLimit = 64))
    val base = (0 until 2000).map(i => Person(s"d$i", s"K$i"))
    ex.execute(spark.createDataset(base))
    // Round 1: d0 re-keys, d1 retracts to nothing, 1998 fresh inserts.
    ex.execute(spark.createDataset(
      Seq(Person("d0", "M0"), Person("d1", "SKIP")) ++
        (0 until 1998).map(i => Person(s"n$i", s"N$i"))))
    assert(ex.lastStats.get.mode == "delta")
    // Round 2: two of round 1's fresh docs churn the same way.
    ex.execute(spark.createDataset(
      Seq(Person("n0", "M1"), Person("n1", "SKIP")) ++
        (0 until 1998).map(i => Person(s"p$i", s"P$i"))))
    assert(ex.lastStats.get.mode == "delta")
    val expected =
      ((2 until 2000).map(i => s"K$i" -> 1L) ++
        (2 until 1998).map(i => s"N$i" -> 1L) ++
        (0 until 1998).map(i => s"P$i" -> 1L) ++
        Seq("M0" -> 1L, "M1" -> 1L)).toMap
    assert(allCounts(ex) == expected)
    assert(ex.query("K0").collect().isEmpty)
    assert(ex.query("K1").collect().isEmpty)
    assert(ex.query("N0").collect().isEmpty)
    assert(ex.query("N1").collect().isEmpty)
  }

  test("crash inside the delta merge: previous generation stays " +
      "published, recovery replays via recompute, resubmit completes") {
    val store = TestTmp.dir("graft-delta-crash")
    val ex = new Executer(DeltaCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))
    val before = allCounts(ex)
    DeltaCountByState.poison = true
    // The merge may run driver-side (the driver-merge spelling of a
    // driver-local batch) or inside a Spark job (the distributed
    // spelling), so the poison surfaces as a bare RuntimeException or
    // wrapped in a SparkException — the crash WINDOW, not the wrapper
    // type, is what this test pins.
    try intercept[Exception] {
      ex.execute(spark.createDataset(Seq(Person("a", "TX"))))
    } finally DeltaCountByState.poison = false
    val reader = new Executer(DeltaCountByState, store, cfg)
    assert(allCounts(reader) == before)
    assert(!ex.isClean)
    // Recovery replays the surviving WAL pairs through rereducePruned —
    // the recompute path, never the delta — over the published state.
    ex.recover()
    assert(ex.isClean)
    assert(allCounts(ex) == before)
    ex.execute(spark.createDataset(Seq(Person("a", "TX"))))
    assert(allCounts(ex) == Map("CA" -> 1L, "TX" -> 2L))
  }

  test("driver-merge and distributed delta spellings produce identical " +
      "state over the same churn schedule") {
    // The driver-merge spelling (startRereduceDeltaDriver) serves
    // driver-local batches: a bounded driver-side read + a plain-Scala
    // group merge + driver-written tree files. Pin its equivalence to
    // the distributed spelling by submitting the SAME schedule as
    // non-narrow `.repartition(2)` batches, which stay distributed.
    def run(store: String, distributed: Boolean): Map[String, Long] = {
      val ex = new Executer(DeltaCountByState, store, cfg)
      val rnd = new scala.util.Random(7)
      for (_ <- 0 until 4) {
        val batch = rnd.shuffle((0 until 60).toList).take(25).map { i =>
          val st = if (rnd.nextInt(8) == 0) "SKIP" else s"S${rnd.nextInt(6)}"
          Person(s"d$i", st)
        }
        val ds = spark.createDataset(batch)
        ex.execute(if (distributed) ds.repartition(2) else ds)
      }
      assert(ex.lastStats.get.mode == "delta")
      allCounts(ex)
    }
    val merged = run(TestTmp.dir("graft-delta-dm-on"), distributed = false)
    val unmerged = run(TestTmp.dir("graft-delta-dm-off"), distributed = true)
    assert(merged == unmerged)
  }

  test("a local batch whose driver merge is gated off negates the " +
      "pre-batch rows, not its own append") {
    // A local delta batch builds its Spark plans only on a fallback. Here
    // 100 re-keyed docs (ids spread over ~70 of 128 parents; short ids
    // like "d7" share a handful) and their 137 keys (~56 of 64 fparts)
    // dirty 120-odd directories, past DriverMergeMaxDirs (96): the
    // driver merge declines, and rereduceDelta first builds the
    // old-rows plan AFTER this batch's
    // tombstones and append have landed in the pending generation. That
    // plan must still read the pre-batch generation: read at first use,
    // the tombstones hide the old rows and the append shows the new
    // ones, and the delta retracts the batch's own rows instead.
    val wide = ExecuterConfig(fanIn = 128, finalParts = 64)
    val ex = new Executer(DeltaCountByState,
      TestTmp.dir("graft-delta-prebatch"), wide)
    ex.execute(spark.createDataset(
      (0 until 100).map(i => Person(s"$i-d", s"K$i"))))
    val upd = (0 until 100).map(i => Person(s"$i-d", s"M${i % 37}"))
    val (_, jobs) = SparkJobs.count(spark)(ex.execute(spark.createDataset(upd)))
    assert(ex.lastStats.get.mode == "delta")
    assert(jobs > 0, "the driver merge ran: the gate this test needs did not trip")
    val fresh = new Executer(DeltaCountByState,
      TestTmp.dir("graft-delta-prebatch-fresh"), wide)
    fresh.execute(spark.createDataset(upd))
    def rows(e: Executer[Person, StatePop]): Seq[String] =
      e.queryAll().collect().map(_.toString).sorted.toSeq
    assert(rows(ex) == rows(fresh))
    assert(allCounts(ex) == (0 until 100).groupBy(i => s"M${i % 37}")
      .map { case (k, is) => k -> is.size.toLong })
  }

  test("group laws hold for the declared delta tasks") {
    val t = DeltaCountByState
    val r = StatePop("CA", 7L)
    assert(t.isZero(t.reduce(Iterator(r, t.negate(r))).next()))
    val sf = graft.ops.IncrementalIndexes.ShingleFreqIndex
    val e = graft.ops.IncrementalIndexes.ShingleFreq("abc", 5L)
    assert(sf.isZero(sf.reduce(Iterator(e, sf.negate(e))).next()))
    val cx = graft.ops.IncrementalIndexes.IvfCentroidIndex
    val c = graft.ops.IncrementalIndexes.CentroidRow(3, 2L, Array.fill(64)(7L))
    val z = cx.reduce(Iterator(c, cx.negate(c))).next()
    assert(cx.isZero(z) && z.qsum.forall(_ == 0L))
    import graft.ops.IndexQueries
    val pa = IndexQueries.PriorityAgg("1-URGENT", 3L, BigDecimal("12.50"))
    assert(IndexQueries.OrdersByPriority.isZero(IndexQueries.OrdersByPriority
      .reduce(Iterator(pa, IndexQueries.OrdersByPriority.negate(pa))).next()))
    val ta = IndexQueries.TagAgg("status:O", 2L, BigDecimal("5"))
    assert(IndexQueries.OrdersMultiTag.isZero(IndexQueries.OrdersMultiTag
      .reduce(Iterator(ta, IndexQueries.OrdersMultiTag.negate(ta))).next()))
    val na = IndexQueries.NationAgg("7", 4L, BigDecimal("9.25"))
    assert(IndexQueries.CustByNation.isZero(IndexQueries.CustByNation
      .reduce(Iterator(na, IndexQueries.CustByNation.negate(na))).next()))
  }
}
