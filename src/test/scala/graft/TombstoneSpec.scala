package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig}

/** The merge-on-read invalidation contract (VERDICT r2 #3): an update
  * batch must cost O(batch) WRITES — tombstone + append — not an
  * O(partition) rewrite of every dirty parent. Pinned structurally: the
  * data files present before the update must still be present,
  * byte-identical in path and length, after it (a partition rewrite
  * would have replaced them wholesale), and only the reduce tree and the
  * appended/tombstone files may change. compact() then folds tombstones
  * into the data files and the merge-on-read state disappears.
  */
class TombstoneSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    TestTmp.dir("graft-tomb")

  /** (path, length) of every data file under map_results. */
  private def mapFiles(store: String): Set[(String, Long)] = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) f.listFiles().iterator.flatMap(walk) else Iterator(f)
    walk(new java.io.File(s"$store/map_results"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getPath, f.length())).toSet
  }

  private def counts(ex: Executer[Person, StatePop]): Map[String, Long] =
    ex.queryAll().collect().map(r => (r.getString(0), r.getLong(2))).toMap

  test("update writes are O(batch): pre-existing map files untouched") {
    val store = tmp()
    val ex = new Executer(PeopleCountByState, store,
      ExecuterConfig(fanIn = 4, finalParts = 2))
    val people = (1 to 400).map(i =>
      Person(s"p-$i", if (i % 2 == 0) "CA" else "TX"))
    ex.execute(spark.createDataset(people))
    val before = mapFiles(store)
    assert(before.nonEmpty)

    // 10-doc update spread across all 4 parent partitions — under the
    // old rewrite scheme every parent would be rewritten in full.
    val upd = (1 to 10).map(i => Person(s"p-${i * 37}", "NV"))
    ex.execute(spark.createDataset(upd))

    val after = mapFiles(store)
    assert(before.subsetOf(after),
      s"pre-update files were rewritten: ${(before -- after).take(3)}")
    assert((after -- before).nonEmpty, "expected appended batch files")
    // Merge-on-read state exists (manifest layout: an immutable versioned
    // file under _tomb/, referenced by the current manifest).
    assert(ex.storeStats()("tombstones") == 10L)

    // Results reflect the update through the merge-on-read view.
    val want = people.map(p => upd.find(_.id == p.id).getOrElse(p))
      .groupBy(_.state).map { case (s, xs) => (s, xs.size.toLong) }
    assert(counts(ex) == want)

    // Folding drops the tombstone state without changing any result —
    // and compact's orphan sweep leaves no tombstone files on disk.
    ex.compact()
    assert(ex.storeStats()("tombstones") == 0L)
    assert(!new java.io.File(s"$store/tombstones.bin").exists())
    assert(!new java.io.File(s"$store/tombstones").exists())
    assert(!new java.io.File(s"$store/_tomb").exists())
    assert(counts(ex) == want)

    // And maintenance keeps working on the folded store.
    ex.execute(spark.createDataset(Seq(Person("p-1", "NV"))))
    assert(counts(ex)("NV") == want("NV") + 1)
  }

  test("contributors() sees through tombstones") {
    val store = tmp()
    val ex = new Executer(PeopleCountByState, store,
      ExecuterConfig(fanIn = 4, finalParts = 2))
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))
    ex.execute(spark.createDataset(Seq(Person("b", "TX"))))
    // b's old CA row is tombstoned, not physically deleted — provenance
    // must still report the live state only.
    assert(ex.contributors("CA").select("doc_id").as[String].collect().toSet
      == Set("A"))
    assert(ex.contributors("TX").select("doc_id").as[String].collect().toSet
      == Set("B", "C"))
  }

  test("deleteDocuments purges docs in O(docs), files untouched") {
    val store = tmp()
    val ex = new Executer(PeopleCountByState, store,
      ExecuterConfig(fanIn = 4, finalParts = 2))
    val people = (1 to 100).map(i =>
      Person(s"p-$i", if (i % 2 == 0) "CA" else "TX"))
    ex.execute(spark.createDataset(people))
    val before = mapFiles(store)

    // Purge 3 docs (2 CA, 1 TX) — case-insensitive like any update.
    ex.deleteDocuments(Seq("P-2", "p-4", "p-1"))
    assert(counts(ex) == Map("CA" -> 48L, "TX" -> 49L))
    assert(mapFiles(store) == before, "purge must not rewrite data files")
    assert(ex.lastStats.exists(_.mode == "delete-docs"))

    // Unknown ids and an empty list are no-ops that publish no
    // generation; deleting every doc of a key removes it.
    val v = ex.snapshotVersion()
    ex.deleteDocuments(Seq("nope"))
    ex.deleteDocuments(Nil)
    assert(ex.snapshotVersion() == v, "a no-op purge published a generation")
    assert(counts(ex) == Map("CA" -> 48L, "TX" -> 49L))
    ex.deleteDocuments((2 to 100 by 2).map(i => s"p-$i"))
    assert(counts(ex).get("CA").isEmpty)
    // State stays maintainable afterwards.
    ex.execute(spark.createDataset(Seq(Person("p-2", "CA"))))
    assert(counts(ex)("CA") == 1L)

    // A store with no map rows: nothing to purge, nothing published.
    val empty = new Executer(PeopleCountByState, tmp(),
      ExecuterConfig(fanIn = 4, finalParts = 2))
    empty.deleteDocuments(Seq("p-1"))
    assert(empty.snapshotVersion() == -1L)
    assert(empty.isEmptyStore)
  }

  test("a purge past driverDirtyLimit goes distributed with local tombstones") {
    val cfg = ExecuterConfig(fanIn = 4, finalParts = 2, driverDirtyLimit = 8)
    val people = (1 to 100).map(i =>
      Person(s"p-$i", Seq("CA", "TX", "WA")(i % 3)))
    val gone = (1 to 40 by 2).map(i => s"p-$i") // 20 ids > the limit of 8
    val store = tmp()
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(people))
    val (_, n) = SparkJobs.count(spark)(ex.deleteDocuments(gone))
    val st = ex.lastStats.get
    assert(st.mode == "delete-docs")
    // The probe overflowed the driver limit (no exact pair count) and
    // the distributed re-reduce ran.
    assert(st.dirtyPairs == -1 && n > 0, s"stats $st, $n jobs")
    assert(st.incomingDocs == 20L)
    // The caller holds every id, so the tombstones are the local file.
    assert(!new java.io.File(s"$store/tombstones").exists(),
      "a purge wrote parquet tombstones")
    assert(ex.storeStats()("tombstones") == 20L)
    val survivors = people.filterNot(p => gone.contains(p.id))
    val fresh = new Executer(PeopleCountByState, tmp(), cfg)
    fresh.execute(spark.createDataset(survivors))
    assert(ex.queryAll().collect().toSet == fresh.queryAll().collect().toSet)
    // With no parquet tombstones left behind, a 1-doc local update
    // stays on the driver.
    val (_, n1) = SparkJobs.count(spark)(
      ex.execute(spark.createDataset(Seq(Person("p-2", "NV")))))
    assert(n1 == 0, s"the 1-doc update after the purge ran $n1 Spark jobs")
    assert(counts(ex)("NV") == 1L)
  }

  test("distributed path also tombstones instead of rewriting") {
    val store = tmp()
    val cfg = ExecuterConfig(fanIn = 4, finalParts = 2, driverDirtyLimit = 0)
    val ex = new Executer(PeopleCountByState, store, cfg)
    val people = (1 to 200).map(i =>
      Person(s"p-$i", if (i % 2 == 0) "CA" else "TX"))
    ex.execute(spark.createDataset(people))
    val before = mapFiles(store)

    ex.execute(spark.createDataset(
      (1 to 25).map(i => Person(s"p-$i", "WA"))))
    assert(before.subsetOf(mapFiles(store)),
      "distributed update rewrote pre-existing files")
    assert(new java.io.File(s"$store/tombstones").exists())
    assert(counts(ex) == Map("CA" -> 88L, "TX" -> 87L, "WA" -> 25L))
  }

  test("tombstone count is exact for parquet tombstones (footer metadata)") {
    // storeStats' tombstone figure drives the auto-fold trigger; the old
    // bytes/20 estimate undercounted compressed files, so the live set
    // could exceed tombstoneLimit without folding (ADVICE r3). The count
    // must now be exactly the number of tombstoned docs, read from
    // parquet footers, not guessed from file sizes.
    val store = tmp()
    val cfg = ExecuterConfig(fanIn = 4, finalParts = 2, driverDirtyLimit = 0)
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(
      (1 to 200).map(i => Person(s"p-$i", if (i % 2 == 0) "CA" else "TX"))))
    ex.execute(spark.createDataset(
      (1 to 25).map(i => Person(s"p-$i", "WA"))))
    assert(new java.io.File(s"$store/tombstones").exists())
    assert(ex.storeStats()("tombstones") == 25L)
  }

  test("auto-fold bounds the live tombstone set") {
    val store = tmp()
    // tombstoneLimit=1: any surviving tombstone triggers a fold at the
    // end of the batch that wrote it.
    val ex = new Executer(PeopleCountByState, store,
      ExecuterConfig(fanIn = 4, finalParts = 2, tombstoneLimit = 1))
    ex.execute(spark.createDataset(
      (1 to 50).map(i => Person(s"p-$i", "CA"))))
    ex.execute(spark.createDataset(
      Seq(Person("p-1", "TX"), Person("p-2", "TX"))))
    assert(ex.storeStats()("tombstones") == 0L,
      "auto-fold did not clear the live tombstone set")
    assert(counts(ex) == Map("CA" -> 48L, "TX" -> 2L))
  }
}
