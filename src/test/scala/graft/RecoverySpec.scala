package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Executer

/** Crash-safety semantics (SURVEY.md §2.3.4, invalidate-before-compute):
  * the dirty-set WAL is written before state mutation; `recover()`
  * re-runs the re-reduce for a surviving dirty log, and re-reducing is
  * idempotent (level-1 parents rebuild from scratch).
  */
class RecoverySpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  test("recover() is a no-op on a clean store") {
    val store = TestTmp.dir("graft-rec")
    val ex = new Executer(PeopleCountByState, store)
    ex.execute(spark.createDataset(Seq(Person("a", "CA"), Person("b", "TX"))))
    val before = ex.queryAll().collect().toSet
    ex.recover()
    assert(ex.queryAll().collect().toSet == before)
  }

  test("recover() after a simulated crash between WAL write and reduce") {
    val store = TestTmp.dir("graft-rec2")
    val ex = new Executer(PeopleCountByState, store)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))

    // Simulate an interrupted execute: a dirty log naming every (key,
    // parent) pair survives on disk (conservative over-marking is legal).
    spark.read.parquet(s"$store/map_results")
      .select("reduce_key", "parent").distinct()
      .write.mode("overwrite").parquet(s"$store/dirty")

    ex.recover()
    assert(ex.query("CA").collect().toSeq == Seq(StatePop("CA", 2L)))
    assert(ex.query("TX").collect().toSeq == Seq(StatePop("TX", 1L)))
    // WAL consumed.
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$store/dirty")))
  }

  private def writePairs(store: String, file: String,
      pairs: Seq[(String, Int)]): Unit = {
    val out = new java.io.DataOutputStream(
      Files.newOutputStream(java.nio.file.Paths.get(store, file)))
    out.writeInt(pairs.size)
    pairs.foreach { case (k, v) => TestTmp.writeStr(out, k); out.writeInt(v) }
    out.close()
  }

  /** The interrupted batch had already bumped the _seq counter (the real
    * crash ordering), so a re-submission gets a higher seq. */
  private def bumpSeqTo(store: String, n: Int): Unit = {
    val fsPath = java.nio.file.Paths.get(store)
    val seqOut = new java.io.DataOutputStream(
      Files.newOutputStream(fsPath.resolve("_seq")))
    seqOut.writeInt(n); seqOut.close()
    Files.deleteIfExists(fsPath.resolve("._seq.crc"))
  }

  test("recover() after a crash between tombstone write and append") {
    // The crash window of the merge-on-read update path: dirty WAL
    // written, the batch's tombstone file written, new rows NOT yet
    // appended, nothing published. The tombstone file is an orphan the
    // published manifest does not reference, so recover() must land on
    // the pre-batch state (the batch is invisible, never half-applied)
    // and re-submitting the batch completes it.
    val store = TestTmp.dir("graft-rec4")
    val ex = new Executer(PeopleCountByState, store)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))

    val parentOfA = graft.functions.StableBucketHash.hash(
      "A", graft.core.ExecuterConfig().buckets) / graft.core.ExecuterConfig().fanIn
    // Interrupted update of doc 'a' (CA → TX).
    writePairs(store, "dirty.pairs", Seq(("CA", parentOfA)))
    Files.createDirectories(java.nio.file.Paths.get(store, "_tomb"))
    writePairs(store, "_tomb/t1.bin", Seq(("A", 1)))
    bumpSeqTo(store, 1)

    assert(!ex.isClean)
    ex.recover()
    assert(ex.isClean)
    assert(ex.query("CA").collect().toSeq == Seq(StatePop("CA", 2L)))
    ex.execute(spark.createDataset(Seq(Person("a", "TX"))))
    assert(ex.query("CA").collect().toSeq == Seq(StatePop("CA", 1L)))
    assert(ex.query("TX").collect().toSeq == Seq(StatePop("TX", 2L)))
    ex.compact()
    assert(!Files.exists(java.nio.file.Paths.get(store, "_tomb/t1.bin")),
      "compact() kept the crashed batch's orphan tombstone file")
  }

  test("recover() repairs an interrupted delete(key)") {
    // delete() crash window: the WAL names the key's pairs and its map
    // rewrite was merged in unpublished. recover() replays the pruned
    // re-reduce over the PUBLISHED state — the delete stays invisible
    // and the store consistent (WAL cleared) — and re-running the
    // delete completes it.
    val store = TestTmp.dir("graft-rec5")
    val ex = new Executer(PeopleCountByState, store)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))

    val cfg = graft.core.ExecuterConfig()
    def parentOf(id: String) =
      graft.functions.StableBucketHash.hash(id, cfg.buckets) / cfg.fanIn
    writePairs(store, "dirty.pairs",
      Seq(("CA", parentOf("A")), ("CA", parentOf("B"))).distinct)

    ex.recover()
    assert(ex.isClean)
    assert(ex.query("CA").collect().toSeq == Seq(StatePop("CA", 2L)))
    assert(ex.query("TX").collect().toSeq == Seq(StatePop("TX", 1L)))
    ex.delete("CA")
    assert(ex.query("CA").collect().isEmpty)
    assert(ex.query("TX").collect().toSeq == Seq(StatePop("TX", 1L)))
  }

  test("recover() after a crash mid-initial-build replays the full rebuild") {
    val store = TestTmp.dir("graft-rec3")
    val ex = new Executer(PeopleCountByState, store)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))

    // Simulate a crash between the map write and the reduce of an initial
    // build: map_results exists, the reduce tree does not, and the
    // driver-local WAL holds the full-rebuild sentinel.
    val fsPath = java.nio.file.Paths.get(store)
    org.apache.commons.io.FileUtils.deleteDirectory(
      fsPath.resolve("reduce_tree").toFile)
    val out = new java.io.DataOutputStream(
      java.nio.file.Files.newOutputStream(fsPath.resolve("dirty.pairs")))
    out.writeInt(1); TestTmp.writeStr(out, ""); out.writeInt(-1); out.close()

    assert(!ex.isClean)
    ex.recover()
    assert(ex.isClean)
    assert(ex.query("CA").collect().toSeq == Seq(StatePop("CA", 2L)))
    assert(ex.query("TX").collect().toSeq == Seq(StatePop("TX", 1L)))
  }
}
