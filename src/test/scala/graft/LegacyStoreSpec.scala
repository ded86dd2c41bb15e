package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig}
import graft.sources.StoreReader

/** Hand-built stores of the retired listing-based layout, and the one
  * refusal every entry point must give them. */
object LegacyStore {
  /** A legacy-shaped store: parquet files under `map_results/parent=0`
    * written by Spark, with neither `_current` nor `_manifests/`. */
  def build(prefix: String)(implicit spark: SparkSession): String = {
    val store = TestTmp.dir(prefix)
    spark.range(3).toDF("bucket")
      .write.parquet(s"$store/map_results/parent=0")
    store
  }

  /** `op` on the legacy store throws the shared layout-gate refusal,
    * which names the store and says to rebuild it; returns the message
    * so callers can check that every entry point agrees on it. */
  def assertRefused(store: String)(op: => Any): String = {
    val e = intercept[UnsupportedOperationException](op)
    val msg = e.getMessage
    assert(msg.contains(Paths.get(store).toString), msg)
    assert(msg.contains("rebuild it from its source documents"), msg)
    assert(!Files.exists(Paths.get(store, "_current")) &&
      !Files.exists(Paths.get(store, "_manifests")),
      "a refused open must not convert the store")
    msg
  }
}

/** Store-layout gate (`Executer.isPublished`): one manifest protocol.
  * Pins: a legacy listing-based store is refused loudly, with the SAME
  * message, by the engine's writes, reads and recovery and by the
  * engine-free reader; a first build that crashed before its first
  * publish reads as an empty manifest store and recovers as one (it is
  * NOT mistaken for a legacy store); and a store written while the
  * engine still carried the `_epoch` seqlock and `_mod` content version
  * — stray files, `_epoch` left odd by a crashed writer — behaves
  * exactly like a clean one. */
class LegacyStoreSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val cfg = ExecuterConfig(fanIn = 4, finalParts = 2)

  private def counts(ex: Executer[Person, StatePop]): Map[String, Long] =
    ex.queryAll().collect().map(r => (r.getString(0), r.getLong(2))).toMap

  private def parquetUnder(dir: String): Int = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) f.listFiles().iterator.flatMap(walk) else Iterator(f)
    if (!root.isDirectory) 0 else walk(root).count(_.getName.endsWith(".parquet"))
  }

  private val batch = Seq(Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))

  test("legacy stores are refused loudly, with one message, everywhere") {
    val store = LegacyStore.build("graft-legacy")
    def ex = new Executer(PeopleCountByState, store, cfg)
    val msgs = Seq(
      LegacyStore.assertRefused(store)(ex.execute(spark.createDataset(batch))),
      LegacyStore.assertRefused(store)(ex.query("CA")),
      LegacyStore.assertRefused(store)(ex.recover()),
      LegacyStore.assertRefused(store)(
        ex.branchAt(0L, TestTmp.dir("graft-legacy-br") + "/s")),
      LegacyStore.assertRefused(store)(StoreReader.finals(spark, store)))
    assert(msgs.distinct.size == 1, msgs.distinct.mkString("\n"))
  }

  test("a first build that crashed before its first publish reads empty " +
      "and recovers as a manifest store") {
    val store = TestTmp.dir("graft-firstcrash")
    new Executer(PeopleCountByState, store, cfg)
      .execute(spark.createDataset(batch))
    // The crash window: the build's map (and tree) files were merged
    // into their tables, its FullRebuild WAL sentinel is on disk, and
    // nothing was published — `_current` and every manifest are absent,
    // the manifest directory (created with `_config`) is not.
    Files.delete(Paths.get(store, "_current"))
    Files.list(Paths.get(store, "_manifests")).forEach(p => Files.delete(p))
    val out = new java.io.DataOutputStream(
      Files.newOutputStream(Paths.get(store, "dirty.pairs")))
    out.writeInt(1); TestTmp.writeStr(out, ""); out.writeInt(-1); out.close()
    assert(parquetUnder(s"$store/map_results") > 0)

    val ex = new Executer(PeopleCountByState, store, cfg)
    assert(ex.snapshotVersion() == -1L)
    assert(ex.queryAll().collect().isEmpty, "half-built files leaked")
    assert(ex.isEmptyStore)
    assert(StoreReader.finals(spark, store).collect().isEmpty)

    assert(!ex.isClean)
    ex.recover()
    assert(ex.isClean)
    assert(ex.snapshotVersion() >= 0L, "recovery published no generation")
    assert(counts(ex).isEmpty)
    ex.compact()
    assert(parquetUnder(s"$store/map_results") == 0 &&
      parquetUnder(s"$store/reduce_tree") == 0,
      "compact() kept files no manifest references")

    ex.execute(spark.createDataset(batch))
    assert(counts(ex) == Map("CA" -> 2L, "TX" -> 1L))
    assert(StoreReader.finals(spark, store).as[(String, String, Long)]
      .collect().map { case (_, s, c) => s -> c }.toMap ==
      Map("CA" -> 2L, "TX" -> 1L))
  }

  test("stray seqlock and content-version files from older writers are " +
      "ignored: same answers as a clean store, no read waits") {
    val clean = TestTmp.dir("graft-era-clean")
    val stray = TestTmp.dir("graft-era-stray")
    def open(s: String) = new Executer(PeopleCountByState, s, cfg)
    Seq(clean, stray).foreach(s => open(s).execute(spark.createDataset(batch)))
    // What a writer that crashed mid-batch left behind: an ODD epoch (the
    // old protocol's "mutating" mark) and a content-version counter.
    def writeLong(file: String, v: Long): Unit = {
      val o = new java.io.DataOutputStream(
        Files.newOutputStream(Paths.get(stray, file)))
      o.writeLong(v); o.close()
    }
    writeLong("_epoch", 3L)
    writeLong("_mod", 7L)

    def timedMs[A](f: => A): (A, Long) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1000000)
    }
    // The retired seqlock spun up to ~9 s on an odd epoch before
    // reading; a read that honours it shows up as a multi-second wait.
    def sameAnswers(): Unit = {
      val (q, ms) = timedMs(open(stray).query("CA").collect().toSeq)
      assert(ms < 8000L, s"point read took $ms ms")
      assert(q == open(clean).query("CA").collect().toSeq)
      assert(counts(open(stray)) == counts(open(clean)))
    }
    sameAnswers()
    Seq(clean, stray).foreach { s =>
      val ex = open(s)
      ex.execute(spark.createDataset(Seq(Person("a", "TX"), Person("d", "WA"))))
      ex.recover()
    }
    sameAnswers()
    Seq(clean, stray).foreach(s => open(s).compact())
    sameAnswers()
    assert(counts(open(stray)) == Map("CA" -> 1L, "TX" -> 2L, "WA" -> 1L))
    val in = new java.io.DataInputStream(
      Files.newInputStream(Paths.get(stray, "_epoch")))
    try assert(in.readLong() == 3L, "the engine touched a retired state file")
    finally in.close()
  }
}
