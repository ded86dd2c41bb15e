package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig}

/** The generation-manifest layer's contracts (SURVEY §14):
  *
  *   - snapshot stability: a resolved read plan stays valid across any
  *     number of later mutations (replaced files are retired in the
  *     manifest, never moved or deleted before retention passes);
  *   - retention GC: retired files are physically reclaimed once both
  *     `manifestRetention` generations and `manifestGraceMs` pass;
  *   - crash atomicity: a batch is invisible until its manifest publish —
  *     a crash mid-batch leaves readers on the previous generation,
  *     recovery replays idempotently, and the crashed batch's orphan
  *     files (data AND tombstone) are never adopted;
  *   - compact() is the reclamation hammer: full GC plus orphan sweep.
  */
class ManifestSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val cfg = ExecuterConfig(fanIn = 4, finalParts = 2)

  private def counts(ex: Executer[Person, StatePop]): Map[String, Long] =
    ex.queryAll().collect().map(r => (r.getString(0), r.getLong(2))).toMap

  private def diskParquet(dir: String): Seq[String] = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) f.listFiles().iterator.flatMap(walk) else Iterator(f)
    if (!root.isDirectory) Nil
    else walk(root).filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
  }

  test("fresh stores publish manifests; resolved plans survive later swaps") {
    val store = TestTmp.dir("graft-mani1")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(
      (1 to 40).map(i => Person(s"p-$i", if (i % 2 == 0) "CA" else "TX"))))
    assert(Files.exists(Paths.get(store, "_current")), "no manifest pointer")
    assert(new java.io.File(s"$store/_manifests").listFiles().nonEmpty)

    // Resolve a read plan NOW (it pins the published generation's exact
    // file list), then churn the store underneath it.
    val reader = new Executer(PeopleCountByState, store, cfg)(
      implicitly, spark.newSession())
    val snapshot = reader.queryAll()
    val before = snapshot.collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(before == Map("CA" -> 20L, "TX" -> 20L))

    // Two update batches that rewrite every final partition the snapshot
    // plan reads. A rename-aside swap would break the resolved plan
    // (file-not-found) or tear it; under manifests the
    // replaced files are retired in place, so the OLD plan keeps
    // returning the OLD consistent answer — a free time-travel read
    // within the retention window.
    ex.execute(spark.createDataset((1 to 10).map(i => Person(s"p-$i", "NV"))))
    ex.execute(spark.createDataset((1 to 10).map(i => Person(s"p-$i", "WA"))))
    assert(snapshot.collect().map(r => (r.getString(0), r.getLong(2))).toMap
      == before, "resolved snapshot plan no longer returns its generation")

    // A FRESH read resolves the new generation.
    assert(counts(reader) ==
      counts(ex).ensuring(_ ("WA") == 10L, "update not applied"))
  }

  test("retention GC reclaims retired generations; compact reclaims all") {
    val store = TestTmp.dir("graft-mani2")
    val gcCfg = cfg.copy(manifestRetention = 1, manifestGraceMs = 0L)
    val ex = new Executer(PeopleCountByState, store, gcCfg)
    ex.execute(spark.createDataset(
      (1 to 40).map(i => Person(s"p-$i", if (i % 2 == 0) "CA" else "TX"))))
    val afterBuild = diskParquet(s"$store/reduce_tree").size

    // Each 1-doc update rewrites one level-1 partition and both finals;
    // with retention=1/grace=0, files retired ≥1 generation ago are
    // dropped at the NEXT publish — the tree's disk footprint must stay
    // bounded instead of growing by one generation per batch.
    for (i <- 1 to 8)
      ex.execute(spark.createDataset(Seq(Person(s"p-$i", "NV"))))
    val afterChurn = diskParquet(s"$store/reduce_tree").size
    assert(afterChurn <= afterBuild + 12,
      s"retired generations not GC'd: $afterBuild tree files grew to $afterChurn")
    assert(counts(ex)("NV") == 8L)

    // compact(): everything retired goes NOW; disk == live exactly.
    ex.compact(maxFilesPerPartition = 1)
    val stats = ex.storeStats()
    assert(stats("retired_files") == 0L)
    assert(diskParquet(s"$store/reduce_tree").size.toLong == stats("tree_files"))
    assert(diskParquet(s"$store/map_results").size.toLong == stats("map_files"))
  }

  test("crash mid-batch: invisible until publish, recovery heals, compact sweeps orphans") {
    val store = TestTmp.dir("graft-mani3")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))
    val before = counts(ex)

    // Reconstruct the state a crash between a batch's data renames and
    // its manifest publish leaves behind: the WAL survives, and files the
    // published manifest does NOT reference sit in live directories — a
    // duplicate-content map file (would double-count if adopted) and a
    // tombstone file killing doc A (would vanish A if adopted).
    val parentOfA = graft.functions.StableBucketHash.hash("A", cfg.buckets) / cfg.fanIn
    val mapDir = Paths.get(store, "map_results")
    val parentDirs = Files.list(mapDir).filter(p =>
      p.getFileName.toString.startsWith("parent=")).iterator()
    val someDir = parentDirs.next()
    val someParquet = Files.list(someDir).filter(
      _.getFileName.toString.endsWith(".parquet")).iterator().next()
    val orphanData = someDir.resolve("part-orphan-deadbeef.snappy.parquet")
    Files.copy(someParquet, orphanData)
    Files.createDirectories(Paths.get(store, "_tomb"))
    val orphanTomb = Paths.get(store, "_tomb", "t99.bin")
    val tout = new java.io.DataOutputStream(Files.newOutputStream(orphanTomb))
    tout.writeInt(1); TestTmp.writeStr(tout, "A"); tout.writeInt(99); tout.close()
    val wout = new java.io.DataOutputStream(
      Files.newOutputStream(Paths.get(store, "dirty.pairs")))
    wout.writeInt(1); TestTmp.writeStr(wout, "CA"); wout.writeInt(parentOfA); wout.close()

    // Readers stay on the published generation: the orphans are invisible.
    val fresh = new Executer(PeopleCountByState, store, cfg)
    assert(counts(fresh) == before, "orphan files adopted by a reader")
    assert(!fresh.isClean)

    // Recovery replays the WAL idempotently against published state.
    fresh.recover()
    assert(fresh.isClean)
    assert(counts(fresh) == before, "recovery diverged from published state")

    // The store keeps maintaining normally...
    fresh.execute(spark.createDataset(Seq(Person("d", "TX"))))
    assert(counts(fresh) == Map("CA" -> 2L, "TX" -> 2L))

    // ...and compact() physically removes what no manifest references.
    fresh.compact()
    assert(!Files.exists(orphanData), "orphan data file not swept")
    assert(!Files.exists(orphanTomb), "orphan tombstone file not swept")
    assert(counts(fresh) == Map("CA" -> 2L, "TX" -> 2L))
  }

  test("queryAllAt reads an exact earlier generation; GC'd generations fail loudly") {
    val store = TestTmp.dir("graft-mani5")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))
    val v1 = ex.snapshotVersion()
    assert(v1 >= 0)

    ex.execute(spark.createDataset(Seq(Person("a", "TX")))) // CA 2→1, TX 1→2
    val v2 = ex.snapshotVersion()
    assert(v2 > v1, "mutation did not advance the generation")

    def at(v: Long): Map[String, Long] =
      ex.queryAllAt(v).collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(at(v1) == Map("CA" -> 2L, "TX" -> 1L), "old generation wrong")
    assert(at(v2) == Map("CA" -> 1L, "TX" -> 2L), "current generation wrong")
    assert(counts(ex) == at(v2))

    // Point-read sibling: same snapshot, pruned to the key's partition.
    assert(ex.queryAt("CA", v1).collect().map(_.count).toSeq == Seq(2L))
    assert(ex.queryAt("CA", v2).collect().map(_.count).toSeq == Seq(1L))
    assert(ex.queryAt("nope", v1).collect().isEmpty)

    // SQL spelling of a generation: deliberately NOT refreshed on
    // mutation — the view of v1 keeps answering v1 after the v2 write.
    ex.registerStoreAt("people_v1", v1)
    val viaSql = spark.sql(
      "SELECT reduce_key, count FROM people_v1 ORDER BY reduce_key")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(viaSql == Map("CA" -> 2L, "TX" -> 1L), s"snapshot view wrong: $viaSql")

    // compact() reclaims retired generations NOW; the old read must then
    // fail loudly (file-not-found at manifest resolution or scan), never
    // return a silently wrong answer.
    ex.compact()
    val stale = intercept[Exception](ex.queryAllAt(v1).collect())
    assert(stale.toString.toLowerCase.contains("file"),
      s"expected a file-level failure for a GC'd generation, got $stale")
  }
}
