package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig, MapReduceTask}

/** A count-by-state task whose reduce can be poisoned mid-test: the only
  * way to land a "crash" INSIDE the rebuild fallback's reduce job without
  * a production code hook. The flag lives on a companion-style object, so
  * local-mode executor threads (same JVM) observe it. */
object PoisonCountByState extends MapReduceTask[Person, StatePop] {
  @volatile var poison = false
  def map(docs: Iterator[Person]): Iterator[(String, StatePop)] =
    docs.map(p => (p.id, StatePop(p.state, 1L)))
  def reduce(entries: Iterator[StatePop]): Iterator[StatePop] = {
    if (poison) throw new RuntimeException("poisoned reduce (test)")
    entries.toSeq.groupBy(_.state)
      .map { case (s, es) => StatePop(s, es.map(_.count).sum) }.iterator
  }
  def reduceKey(e: StatePop): String = e.state
  def documentId(p: Person): String = p.id
}

/** Cost-based update-vs-rebuild fallback (VERDICT r7 #2): a bulk update
  * whose dirty pair set covers most of the reduce tree takes the
  * single-write rebuild path instead of paying tombstone append + a
  * near-total sibling re-reduce. Pins: (1) the fallback triggers past the
  * fraction threshold and its result EQUALS the incremental/recompute
  * semantics; (2) steady-state small updates never pay the check;
  * (3) a kill inside the fallback leaves the store on the previous
  * published generation exactly like any crashed batch (VERDICT r7 #6),
  * and recover + resubmit completes it.
  */
class RebuildFallbackSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  // driverDirtyLimit lowered so a 600-doc batch counts as LARGE (ids
  // past the driver probe limit): driver-small batches never take the
  // fallback by design — their invalidation is O(batch) pushdown and
  // the map-table rewrite cannot pay for itself — so the spec must
  // drive the genuinely-large shape through the distributed probes.
  private val cfg = ExecuterConfig(fanIn = 8, finalParts = 4,
    driverDirtyLimit = 256)

  // 800 docs, each its own reduce key: a 600-doc re-keying update
  // dirties 1200 pairs (old + new keys) against 800 live pairs — past
  // the 0.5 default fraction, the 256-pair check floor, and the
  // driver-small exclusion.
  private def baseDocs: Seq[Person] =
    (0 until 800).map(i => Person(s"d$i", s"S$i"))
  private def bulkUpdate: Seq[Person] =
    (0 until 600).map(i => Person(s"d$i", s"T$i"))
  private def expectedAfterUpdate: Set[(String, Long)] =
    ((600 until 800).map(i => (s"S$i", 1L)) ++
      (0 until 600).map(i => (s"T$i", 1L))).toSet

  private def allCounts(ex: Executer[Person, StatePop]): Set[(String, Long)] =
    ex.queryAll().as[(String, String, Long)].collect()
      .map { case (_, s, c) => (s, c) }.toSet

  test("bulk update past the dirty fraction takes the rebuild path " +
      "and matches recompute semantics") {
    val store = TestTmp.dir("graft-rbf")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(baseDocs))
    ex.execute(spark.createDataset(bulkUpdate))
    assert(ex.lastStats.get.mode == "rebuild-fallback")
    assert(allCounts(ex) == expectedAfterUpdate)
    // The rebuild folded all invalidation into the data files: no live
    // tombstones remain, and a FRESH reader resolves the same state from
    // the published manifest.
    assert(ex.storeStats()("tombstones") == 0L)
    val ex2 = new Executer(PeopleCountByState, store, cfg)
    assert(allCounts(ex2) == expectedAfterUpdate)
  }

  test("small updates keep the incremental path (no fallback, no check)") {
    val store = TestTmp.dir("graft-rbf-small")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(baseDocs))
    ex.execute(spark.createDataset(Seq(Person("d0", "Z0"), Person("d1", "Z1"))))
    assert(ex.lastStats.get.mode == "incremental-pruned")
    assert(allCounts(ex).contains(("Z0", 1L)))
  }

  test("crash inside the fallback leaves the previous generation " +
      "published; recover + resubmit completes the batch") {
    val store = TestTmp.dir("graft-rbf-crash")
    val ex = new Executer(PoisonCountByState, store, cfg)
    ex.execute(spark.createDataset(baseDocs))
    val before = allCounts(ex)
    PoisonCountByState.poison = true
    try {
      // The poison fires in rereduceAll's reduce — AFTER the staged map
      // rewrite merged files in and the in-memory model retired the old
      // ones. Nothing was published, so all of that must be invisible.
      intercept[org.apache.spark.SparkException] {
        ex.execute(spark.createDataset(bulkUpdate))
      }
    } finally PoisonCountByState.poison = false
    // Published generation unchanged: a fresh reader sees the pre-batch
    // state, and the surviving FullRebuild WAL marks the store dirty.
    val reader = new Executer(PoisonCountByState, store, cfg)
    assert(allCounts(reader) == before)
    assert(!ex.isClean)
    // Recovery replays an idempotent full re-reduce of the PUBLISHED map
    // state (the crashed batch's staged files are unreferenced orphans).
    ex.recover()
    assert(ex.isClean)
    assert(allCounts(ex) == before)
    // Re-submitting the batch applies it completely.
    ex.execute(spark.createDataset(bulkUpdate))
    assert(allCounts(ex) == expectedAfterUpdate)
    assert(ex.lastStats.get.mode == "rebuild-fallback")
  }
}
