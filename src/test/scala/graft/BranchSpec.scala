package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig}
import graft.streaming.CdcConsumer

/** `branchAt` — the forking half of writable time travel (SURVEY §21.5;
  * `rollbackTo` is the in-place half). Pins: a branch carries exactly
  * the target generation's state as its own generation 0; source and
  * branch are fully independent afterwards (updates, deletes, and
  * compact() on either side never leak to the other); the inherited
  * seq floor makes update semantics correct for documents copied from
  * the source (tombstones must outrank copied rows); a CDC consumer
  * bootstraps off a branch like off a fresh build (the full-key-set
  * generation-0 record); and the loud-failure guards. */
class BranchSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val cfg = ExecuterConfig(fanIn = 4, finalParts = 2)

  private def counts(ex: Executer[Person, StatePop]): Map[String, Long] =
    ex.queryAll().as[(String, String, Long)].collect()
      .map { case (_, s, c) => s -> c }.toMap

  test("a branch is the pinned generation, independent of the source") {
    val srcStore = TestTmp.dir("graft-br-src")
    val src = new Executer(PeopleCountByState, srcStore, cfg)
    src.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"), Person("c", "CA"))))
    val v0 = src.snapshotVersion()
    src.execute(spark.createDataset(Seq(Person("a", "NV")))) // post-v0 churn

    val br = src.branchAt(v0, TestTmp.dir("graft-br-dst") + "/s")
    assert(br.snapshotVersion() == 0L, "the branch starts its own history")
    assert(counts(br) == Map("CA" -> 2L, "TX" -> 1L), "state is v0's")
    assert(counts(src) == Map("CA" -> 1L, "NV" -> 1L, "TX" -> 1L),
      "the source is not touched")

    // The branch's generation-0 record bootstraps CDC like a build:
    // changedKeysSince(-1) names every key (checked before the
    // compact() below prunes pre-horizon records, by contract).
    assert(br.changedKeysSince(-1L).as[String].collect().toSet ==
      Set("CA", "TX"))

    // Independence, both directions — including an update to a COPIED
    // document (the seq-floor contract: the branch's tombstone must
    // outrank the copied row) and the source's compact() reclaiming
    // every retired file it can.
    br.execute(spark.createDataset(Seq(Person("a", "WA"))))
    assert(counts(br) == Map("CA" -> 1L, "TX" -> 1L, "WA" -> 1L))
    assert(counts(src) == Map("CA" -> 1L, "NV" -> 1L, "TX" -> 1L))
    src.execute(spark.createDataset(Seq(Person("b", "OR"))))
    src.compact()
    br.compact()
    assert(counts(br) == Map("CA" -> 1L, "TX" -> 1L, "WA" -> 1L))
    assert(counts(src) == Map("CA" -> 1L, "NV" -> 1L, "OR" -> 1L))
  }

  test("a CDC consumer chains off a branch") {
    val srcStore = TestTmp.dir("graft-br-cdc-src")
    val src = new Executer(PeopleCountByState, srcStore, cfg)
    src.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"))))
    val v0 = src.snapshotVersion()
    src.execute(spark.createDataset(Seq(Person("b", "CA"))))

    val br = src.branchAt(v0, TestTmp.dir("graft-br-cdc-dst") + "/s")
    val consumer = new CdcConsumer(br, StateBandCounts,
      TestTmp.dir("graft-br-cdc-down"), cfg, strict = true)
    def bands(): Map[String, (Long, Long)] =
      consumer.executer.queryAll().as[(String, String, Long, Long)]
        .collect().map { case (_, b, s, p) => b -> ((s, p)) }.toMap
    consumer.syncOnce()
    assert(bands() == Map("C" -> ((1L, 1L)), "T" -> ((1L, 1L))))
    br.execute(spark.createDataset(Seq(Person("c", "CA"))))
    consumer.syncOnce()
    assert(bands() == Map("C" -> ((1L, 2L)), "T" -> ((1L, 1L))))
  }

  test("guards: legacy source, occupied destination, GC'd target") {
    val legacy = LegacyStore.build("graft-br-legacy")
    LegacyStore.assertRefused(legacy) {
      new Executer(PeopleCountByState, legacy, cfg)
        .branchAt(0L, TestTmp.dir("graft-br-x") + "/s")
    }

    val srcStore = TestTmp.dir("graft-br-g-src")
    val src = new Executer(PeopleCountByState, srcStore, cfg)
    src.execute(spark.createDataset(Seq(Person("a", "CA"))))
    val v0 = src.snapshotVersion()
    intercept[IllegalArgumentException] { src.branchAt(-1L, "/tmp/never") }
    // Occupied destination refuses before copying anything.
    intercept[IllegalArgumentException] { src.branchAt(v0, srcStore) }

    // GC'd target: aggressive retention + churn, then branch at v0.
    val gStore = TestTmp.dir("graft-br-gc")
    val g = new Executer(PeopleCountByState, gStore,
      cfg.copy(manifestRetention = 1, manifestGraceMs = 0L))
    g.execute(spark.createDataset(Seq(Person("a", "CA"))))
    val gv0 = g.snapshotVersion()
    for (s <- Seq("TX", "WA", "NV", "UT", "AZ"))
      g.execute(spark.createDataset(Seq(Person("a", s))))
    val e = intercept[Exception] {
      g.branchAt(gv0, TestTmp.dir("graft-br-gc-dst") + "/s")
    }
    assert(e.isInstanceOf[java.io.FileNotFoundException] ||
      e.isInstanceOf[IllegalStateException], s"unexpected: $e")
  }
}
