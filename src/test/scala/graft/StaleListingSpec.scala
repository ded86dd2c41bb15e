package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig}

/** The base-relation cache (Executer.relFor) must never serve a stale
  * file list: plans are keyed by the snapshot they resolve — a published
  * generation's version, or the writer's pending model revision — and
  * every read resolves the current `_current` pointer, including reads
  * from a DIFFERENT Executer instance on the same store (writer handoff
  * is the reference's normal operating mode: one process builds, a later
  * process updates, `MapReduce/Program.cs:13-45`). Each scenario here
  * would fail under a forever-cache keyed by table path alone, and
  * passes only because every mutation type lands a new generation:
  * append (incremental update), staged partition swap (key delete),
  * tombstone write + fold (deleteDocuments/compact), and the initial
  * build. */
class StaleListingSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def people(ps: (String, String)*) =
    spark.createDataset(ps.map { case (id, st) => Person(id, st) })

  // queryAll rows are (reduce_key, state, count).
  private def counts(ex: Executer[Person, StatePop]): Map[String, Long] =
    ex.queryAll().collect().map(r => r.getString(0) -> r.getLong(2)).toMap

  test("same instance: reads after an update see the new tree") {
    val store = TestTmp.dir("graft-stale1")
    val ex = new Executer(PeopleCountByState, store)
    ex.execute(people("a" -> "CA", "b" -> "CA", "c" -> "TX"))
    assert(counts(ex) == Map("CA" -> 2L, "TX" -> 1L)) // populates the cache
    ex.execute(people("a" -> "TX")) // a moves CA -> TX (append + tree swap)
    assert(counts(ex) == Map("CA" -> 1L, "TX" -> 2L))
  }

  test("second instance's update invalidates the first instance's cache") {
    val store = TestTmp.dir("graft-stale2")
    val a = new Executer(PeopleCountByState, store)
    a.execute(people("a" -> "CA", "b" -> "CA", "c" -> "TX"))
    assert(counts(a) == Map("CA" -> 2L, "TX" -> 1L)) // a's cache now warm

    val b = new Executer(PeopleCountByState, store)
    b.execute(people("d" -> "NY")) // pure insert: append path, no swap
    assert(counts(a) == Map("CA" -> 2L, "TX" -> 1L, "NY" -> 1L))

    b.execute(people("c" -> "NY")) // stale path: tombstone + append + swap
    assert(counts(a) == Map("CA" -> 2L, "NY" -> 2L))
    // TX disappeared entirely — the swapped-empty partition must not be
    // resurrected from a's cached listing.
    assert(a.query("TX").collect().isEmpty)
  }

  test("cross-instance key delete and doc purge are visible immediately") {
    val store = TestTmp.dir("graft-stale3")
    val a = new Executer(PeopleCountByState, store)
    a.execute(people("a" -> "CA", "b" -> "CA", "c" -> "TX", "d" -> "TX"))
    assert(counts(a) == Map("CA" -> 2L, "TX" -> 2L))

    val b = new Executer(PeopleCountByState, store)
    b.delete("CA") // staged swap of map_results + reduce_tree
    assert(counts(a) == Map("TX" -> 2L))

    b.deleteDocuments(Seq("d")) // tombstone + pruned re-reduce
    assert(counts(a) == Map("TX" -> 1L))
    // contributors reads map_results through the tombstone overlay.
    assert(a.contributors("TX").collect().map(_.getString(0)).toSet == Set("C"))
  }

  test("cross-instance compact (tombstone fold) keeps reads consistent") {
    val store = TestTmp.dir("graft-stale4")
    val a = new Executer(PeopleCountByState, store)
    a.execute(people("a" -> "CA", "b" -> "CA", "c" -> "TX"))
    val b = new Executer(PeopleCountByState, store)
    b.execute(people("b" -> "TX")) // leaves a live tombstone for b
    assert(counts(a) == Map("CA" -> 1L, "TX" -> 2L)) // a caches post-update listing
    b.compact() // folds tombstones: rewrites map partitions, deletes tombstone files
    assert(counts(a) == Map("CA" -> 1L, "TX" -> 2L))
    assert(a.contributionsOf("b").collect().map(_.getString(0)).toSeq == Seq("TX"))
  }

  test("fanIn=2 store: swap-heavy churn across two instances stays exact") {
    // Small fanIn concentrates every update into few partitions, so each
    // batch swaps directories the other instance has certainly listed.
    val store = TestTmp.dir("graft-stale5")
    val cfg = ExecuterConfig(fanIn = 2, finalParts = 2)
    val a = new Executer(PeopleCountByState, store, cfg)
    val b = new Executer(PeopleCountByState, store, cfg)
    val states = Seq("CA", "TX", "NY")
    var expect = Map.empty[String, String]
    for (i <- 0 until 6) {
      val id = s"p${i % 4}"
      val st = states(i % states.length)
      (if (i % 2 == 0) a else b).execute(people(id -> st))
      expect += id -> st
      val want = expect.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(counts(a) == want, s"instance a, step $i")
      assert(counts(b) == want, s"instance b, step $i")
    }
  }
}
