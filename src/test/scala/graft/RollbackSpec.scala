package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig}
import graft.streaming.CdcConsumer

/** `rollbackTo` — time travel made writable (SURVEY §21.5). Pins:
  * rollback lands the restored state as a NEW forward generation
  * (intermediate pinned reads stay valid, version arithmetic moves
  * forward); the rollback generation records exactly the keys touched
  * since the target (the CDC invalidation contract); post-rollback
  * updates and generation-hopping (rollback of a rollback, forward to
  * an intermediate) all equal the model; a STRICT CdcConsumer converges
  * through an upstream rollback on the incremental path alone (no
  * resync); and the loud-failure guards — no-op/bounds, legacy stores,
  * GC'd target manifests, pruned changed-records horizon — mutate
  * nothing. */
class RollbackSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val cfg = ExecuterConfig(fanIn = 4, finalParts = 2)

  private def counts(ex: Executer[Person, StatePop]): Map[String, Long] =
    ex.queryAll().as[(String, String, Long)].collect()
      .map { case (_, s, c) => s -> c }.toMap

  private def countsAt(ex: Executer[Person, StatePop],
      v: Long): Map[String, Long] =
    ex.queryAllAt(v).as[(String, String, Long)].collect()
      .map { case (_, s, c) => s -> c }.toMap

  private def changed(ex: Executer[Person, StatePop], since: Long): Set[String] =
    ex.changedKeysSince(since).as[String].collect().toSet

  test("rollback restores a prior generation as a NEW forward generation; " +
      "pinned intermediate reads and the invalidation record hold") {
    val store = TestTmp.dir("graft-rb")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"), Person("c", "CA"))))
    val v0 = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("a", "NV")))) // CA 2→1, +NV
    val v1 = ex.snapshotVersion()
    ex.deleteDocuments(Seq("b")) // TX vanishes
    val v2 = ex.snapshotVersion()
    assert(counts(ex) == Map("CA" -> 1L, "NV" -> 1L))

    val v3 = ex.rollbackTo(v0)
    assert(v3 == v2 + 1, "rollback publishes a FORWARD generation")
    assert(ex.snapshotVersion() == v3)
    assert(counts(ex) == Map("CA" -> 2L, "TX" -> 1L), "state is v0's")

    // History is not rewritten: every intermediate generation still
    // time-travels (within ordinary retention).
    assert(countsAt(ex, v0) == Map("CA" -> 2L, "TX" -> 1L))
    assert(countsAt(ex, v1) == Map("CA" -> 1L, "NV" -> 1L, "TX" -> 1L))
    assert(countsAt(ex, v2) == Map("CA" -> 1L, "NV" -> 1L))
    assert(countsAt(ex, v3) == countsAt(ex, v0))

    // The rollback generation's invalidation record: exactly the keys
    // touched in (v0, v2] — what any cursor position must refetch.
    assert(changed(ex, v2) == Set("CA", "NV", "TX"))
    assert(changed(ex, v3).isEmpty)
  }

  test("post-rollback updates work, and generations hop freely " +
      "(rollback of a rollback, forward to an intermediate)") {
    val store = TestTmp.dir("graft-rb-hop")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"))))
    val v0 = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("b", "WA"))))
    val v1 = ex.snapshotVersion()
    val v2 = ex.rollbackTo(v0)
    assert(counts(ex) == Map("CA" -> 1L, "TX" -> 1L))

    // The store keeps updating normally after a rollback.
    ex.execute(spark.createDataset(Seq(Person("c", "CA"))))
    assert(counts(ex) == Map("CA" -> 2L, "TX" -> 1L))
    val v3 = ex.snapshotVersion()
    assert(v3 == v2 + 1)

    // Rollback of a rollback…
    assert(ex.rollbackTo(v2) == v3 + 1)
    assert(counts(ex) == Map("CA" -> 1L, "TX" -> 1L))
    // …and FORWARD to an intermediate generation (any published
    // generation is a legal target, not just older ones).
    ex.rollbackTo(v1)
    assert(counts(ex) == Map("CA" -> 1L, "WA" -> 1L))
    // Updates from the re-restored state still converge.
    ex.execute(spark.createDataset(Seq(Person("a", "WA"))))
    assert(counts(ex) == Map("WA" -> 2L))
  }

  test("a STRICT CdcConsumer converges through an upstream rollback on " +
      "the incremental path alone") {
    val upStore = TestTmp.dir("graft-rb-up")
    val downStore = TestTmp.dir("graft-rb-down")
    val up = new Executer(PeopleCountByState, upStore, cfg)
    up.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"), Person("c", "CA"),
      Person("d", "NV"))))
    val v0 = up.snapshotVersion()

    val consumer = new CdcConsumer(up, StateBandCounts, downStore, cfg,
      strict = true)
    def bands(): Map[String, (Long, Long)] =
      consumer.executer.queryAll()
        .as[(String, String, Long, Long)].collect()
        .map { case (_, b, s, p) => b -> ((s, p)) }.toMap
    def model(): Map[String, (Long, Long)] =
      up.queryAll().as[(String, String, Long)].collect()
        .groupBy(_._2.take(1)).map { case (b, rows) =>
          b -> ((rows.length.toLong, rows.map(_._3).sum))
        }

    consumer.syncOnce() // bootstrap
    assert(bands() == model())

    up.execute(spark.createDataset(Seq(Person("a", "WA")))) // CA 2→1, +WA
    consumer.syncOnce()
    assert(bands() == model())

    up.rollbackTo(v0)
    consumer.syncOnce() // strict: a resync fallback would throw instead
    assert(bands() == model(), "downstream equals the rolled-back upstream")
    assert(consumer.health.resyncCount == 1L,
      "only the bootstrap resynced — the rollback itself synced " +
        "incrementally off its invalidation record")
    assert(consumer.health.fallbackResyncCount == 0L)
  }

  test("no-op, bounds, and legacy-store guards") {
    val store = TestTmp.dir("graft-rb-guards")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(Person("a", "CA"))))
    val v0 = ex.snapshotVersion()
    assert(ex.rollbackTo(v0) == v0, "rollback to current is a no-op")
    assert(ex.snapshotVersion() == v0, "…that publishes nothing")
    intercept[IllegalArgumentException] { ex.rollbackTo(-1L) }
    intercept[IllegalArgumentException] { ex.rollbackTo(v0 + 5) }

    val legacy = LegacyStore.build("graft-rb-legacy")
    LegacyStore.assertRefused(legacy) {
      new Executer(PeopleCountByState, legacy, cfg).rollbackTo(0L)
    }
  }

  test("a GC'd target fails loudly and mutates nothing") {
    // Aggressive retention: manifests older than max(retention,4)=4
    // generations are GC'd at publish once grace expires (0 here).
    val store = TestTmp.dir("graft-rb-gone")
    val ex = new Executer(PeopleCountByState, store,
      cfg.copy(manifestRetention = 1, manifestGraceMs = 0L))
    ex.execute(spark.createDataset(Seq(Person("a", "CA"))))
    val v0 = ex.snapshotVersion()
    for (s <- Seq("TX", "WA", "NV", "UT", "AZ"))
      ex.execute(spark.createDataset(Seq(Person("a", s))))
    val cur = ex.snapshotVersion()
    val before = counts(ex)
    // Two equally-loud shapes, depending on whether the in-process
    // manifest cache still holds the GC'd m0: a cold instance hits the
    // deleted manifest file (FileNotFound), a warm one resolves the
    // cached manifest and trips the missing-data-files check.
    val e = intercept[Exception] { ex.rollbackTo(v0) }
    assert(e.isInstanceOf[java.io.FileNotFoundException] ||
      e.isInstanceOf[IllegalStateException], s"unexpected: $e")
    assert(ex.snapshotVersion() == cur && counts(ex) == before,
      "a refused rollback leaves the store untouched")
  }

  test("a pruned changed-records horizon (or GC'd target files) fails " +
      "loudly and mutates nothing") {
    val store = TestTmp.dir("graft-rb-horizon")
    val ex = new Executer(PeopleCountByState, store,
      cfg.copy(manifestRetention = 1, manifestGraceMs = 0L))
    ex.execute(spark.createDataset(Seq(Person("a", "CA"))))
    val v0 = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("a", "TX"))))
    ex.execute(spark.createDataset(Seq(Person("a", "WA"))))
    ex.compact() // prunes changed records + reclaims retired files
    val cur = ex.snapshotVersion()
    val before = counts(ex)
    intercept[IllegalStateException] { ex.rollbackTo(v0) }
    assert(ex.snapshotVersion() == cur && counts(ex) == before)
  }
}
