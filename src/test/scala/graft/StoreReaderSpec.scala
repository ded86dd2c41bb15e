package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig}
import graft.sources.StoreReader

/** The external lock-free read recipe ([[graft.sources.StoreReader]],
  * SURVEY §21.6): a client with NO engine handle resolves `_current` →
  * manifest → pinned parquet file list and reads the final results.
  * Pins: the external read equals `queryAll` after build, update,
  * whole-key delete and rollback; an explicit-version read is PINNED —
  * a DataFrame resolved at generation v still reads v's state after
  * later mutations land (within retention), while a head re-resolve
  * follows; `registerView` serves SQL clients the same rows; the
  * fresh-store and legacy-store edges are the documented shapes (empty
  * frame / loud refusal); and under a churn loop every head read
  * equals some published generation's state (the SwapChurnDemo
  * invariant, in-process spelling — `SwapChurnDemo external` is the
  * separate-process twin). */
class StoreReaderSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val cfg = ExecuterConfig(fanIn = 4, finalParts = 2)

  private def m(rows: Array[(String, String, Long)]): Map[String, Long] =
    rows.map { case (_, s, c) => s -> c }.toMap

  private def engineState(ex: Executer[Person, StatePop]): Map[String, Long] =
    m(ex.queryAll().as[(String, String, Long)].collect())

  private def partsOf(files: Seq[String]): Set[String] = files.map(f =>
    f.split("/").find(_.startsWith("part=")).getOrElse("?")).toSet

  /** The shared read layer at `version`, as the external reader sees it. */
  private def snap(store: String, version: Long = -1L) =
    StoreReader.snapshot(spark, store, version).get

  private def externalState(store: String): Map[String, Long] =
    StoreReader.finals(spark, store).as[(String, String, Long)].collect()
      .map { case (_, s, c) => s -> c }.toMap

  test("external finals track the engine through build, update, delete " +
      "and rollback; explicit-version reads stay pinned") {
    val store = TestTmp.dir("graft-extread")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"), Person("c", "CA"))))
    val v0 = ex.snapshotVersion()
    assert(StoreReader.currentVersion(spark, store) == v0)
    assert(externalState(store) == Map("CA" -> 2L, "TX" -> 1L))
    assert(externalState(store) == engineState(ex))

    // A plan resolved at v0 is pinned: later mutations must not move it.
    val pinned = StoreReader.finals(spark, store, v0)

    ex.execute(spark.createDataset(Seq(Person("a", "NV"))))
    assert(externalState(store) == Map("CA" -> 1L, "NV" -> 1L, "TX" -> 1L))
    ex.delete("TX")
    assert(externalState(store) == Map("CA" -> 1L, "NV" -> 1L))
    assert(externalState(store) == engineState(ex))

    assert(m(pinned.as[(String, String, Long)].collect()) ==
      Map("CA" -> 2L, "TX" -> 1L),
      "the v0 plan reads v0's state after two later generations")

    // Writable time travel is just another generation to the reader.
    ex.rollbackTo(v0)
    assert(StoreReader.currentVersion(spark, store) == ex.snapshotVersion())
    assert(externalState(store) == Map("CA" -> 2L, "TX" -> 1L))

    // SQL-only clients: same rows through a registered view.
    StoreReader.registerView(spark, store, "ext_people")
    assert(m(spark.sql(
      "SELECT reduce_key, state, count FROM ext_people")
      .as[(String, String, Long)].collect()) == Map("CA" -> 2L, "TX" -> 1L))
  }

  test("external point query equals the engine's and scans only the " +
      "key's partition files") {
    val store = TestTmp.dir("graft-extread-point")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset((1 to 40).map(i =>
      Person(s"p-$i", Seq("CA", "TX", "NV", "OR")(i % 4)))))
    for (key <- Seq("CA", "TX", "NV", "OR")) {
      val ext = StoreReader.pointQuery(spark, store, key)
      assert(ext.as[(String, String, Long)].collect().toSeq
        .map { case (_, s, c) => (s, c) } ==
        ex.query(key).collect().toSeq.map(r => (r.state, r.count)),
        s"external point read of $key diverges from the engine")
      // The pruning claim: every file the read opens is the key's fpart
      // (and so is every file its fallback plan scans).
      val parts = partsOf(snap(store).keysRead(Seq(key))
        .opened.get.map(_.toString))
      assert(parts == Set(s"part=${Executer.fpartHash(key, 2)}"),
        s"point query of $key read partitions $parts")
      val planned = partsOf(snap(store).keysPlan(Seq(key)).inputFiles.toSeq)
      assert(planned.size == 1, s"point query of $key plans partitions $planned")
    }
    // Absent key: empty result, payload schema intact.
    val none = StoreReader.pointQuery(spark, store, "ZZ")
    assert(none.collect().isEmpty)
    assert(none.columns.toSeq == Seq("reduce_key", "state", "count"))

    // Multi-key: same rows as the engine's queryKeys, scanning at most
    // the keys' distinct partitions (absent key contributes nothing).
    val keys = Seq("CA", "NV", "ZZ")
    val multi = StoreReader.keysQuery(spark, store, keys)
    assert(m(multi.as[(String, String, Long)].collect()) ==
      m(ex.queryKeys(keys).as[(String, String, Long)].collect()))
    val mparts = partsOf(snap(store).keysRead(keys).opened.get.map(_.toString))
    assert(mparts.nonEmpty && mparts.size <= 2,
      s"keysQuery read partitions $mparts")
  }

  test("miss-path point/keys queries plan ONE schema file, never the " +
      "full listing, and keep the payload columns") {
    // finalParts=8 with a single live key leaves 7 empty partitions, so
    // a probe key hashing elsewhere exercises the provably-no-rows path
    // (r15: previously the full live file list entered the plan to
    // salvage the schema — a miss-heavy 100 TB workload would pay
    // full-listing plans per miss).
    val store = TestTmp.dir("graft-extread-miss")
    val ex = new Executer(PeopleCountByState, store,
      cfg.copy(finalParts = 8))
    ex.execute(spark.createDataset((1 to 12).map(i => Person(s"p-$i", "CA"))))
    val caPart = Executer.fpartHash("CA", 8)
    val missKey = Seq("TX", "NV", "OR", "WA", "ID", "AZ", "UT")
      .find(k => Executer.fpartHash(k, 8) != caPart).get
    val miss = StoreReader.pointQuery(spark, store, missKey)
    assert(miss.collect().isEmpty)
    assert(miss.columns.toSeq == Seq("reduce_key", "state", "count"),
      "miss-path read must keep the payload schema")
    val missRead = snap(store).keysRead(Seq(missKey))
    assert(missRead.footer.isDefined && missRead.opened.contains(Nil),
      s"miss-path read footer ${missRead.footer} and opened " +
        s"${missRead.opened}; wanted one footer and no data file")
    // Its fallback plan holds at most one schema-salvage file.
    val missPlan = snap(store).keysPlan(Seq(missKey))
      .select("reduce_key", "payload.*")
    assert(missPlan.collect().isEmpty)
    assert(missPlan.columns.toSeq == Seq("reduce_key", "state", "count"))
    assert(missPlan.inputFiles.length <= 1,
      s"miss-path planned ${missPlan.inputFiles.length} files; wanted <=1 " +
        "(one schema-salvage file)")
    val missAll = StoreReader.keysQuery(spark, store, Seq(missKey))
    assert(missAll.collect().isEmpty)
    assert(missAll.columns.toSeq == Seq("reduce_key", "state", "count"))
    // A hit among misses still opens the hit's partition only.
    val mixed = StoreReader.keysQuery(spark, store, Seq("CA", missKey))
    assert(m(mixed.as[(String, String, Long)].collect()) == Map("CA" -> 12L))
    val parts = partsOf(snap(store).keysRead(Seq("CA", missKey))
      .opened.get.map(_.toString))
    assert(parts == Set(s"part=$caPart"), s"mixed keysQuery read $parts")
  }

  test("external contributors equals the engine's under live tombstones " +
      "and stays pinned at a prior generation") {
    val store = TestTmp.dir("graft-extread-contrib")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"), Person("c", "CA"))))
    val v0 = ex.snapshotVersion()
    def engineContrib(key: String): Set[(String, Int)] =
      ex.contributors(key).as[(String, Int)].collect().toSet
    def extContrib(key: String, v: Long = -1L): Set[(String, Int)] =
      StoreReader.contributors(spark, store, key, v)
        .as[(String, Int)].collect().toSet
    assert(extContrib("CA") == engineContrib("CA"))
    assert(extContrib("CA").map(_._1) == Set("A", "C"))

    // The update tombstones a's CA row (merge-on-read: the old file
    // stays live; only the overlay hides the row). A raw file read
    // would still see doc a under CA — the overlay is the contract.
    ex.execute(spark.createDataset(Seq(Person("a", "NV"))))
    assert(extContrib("CA") == engineContrib("CA"))
    assert(extContrib("CA").map(_._1) == Set("C"),
      "tombstoned contributor resurrected by the external overlay")
    assert(extContrib("NV") == engineContrib("NV"))

    // Pinned at v0: the pre-update provenance, exactly.
    assert(extContrib("CA", v0).map(_._1) == Set("A", "C"),
      "pinned contributors must serve the pinned generation's overlay")

    // Document delete: the tombstone is the ONLY record of removal.
    ex.deleteDocuments(Seq("c"))
    assert(extContrib("CA") == engineContrib("CA"))
    assert(extContrib("CA").isEmpty)

    // Absent key and fresh store: empty with the contract columns.
    assert(StoreReader.contributors(spark, store, "ZZ").collect().isEmpty)
    val fresh = TestTmp.dir("graft-extread-contrib-fresh")
    val f = StoreReader.contributors(spark, fresh, "CA")
    assert(f.collect().isEmpty)
    assert(f.columns.toSeq == Seq("doc_id", "bucket"))
  }

  test("external changedKeysSince equals the engine's through churn; " +
      "horizon refusal and version pinning hold") {
    val store = TestTmp.dir("graft-extread-cdc")
    val ex = new Executer(PeopleCountByState, store, cfg)
    def engineKeys(since: Long): Set[String] =
      ex.changedKeysSince(since).as[String].collect().toSet
    def extKeys(since: Long, v: Long = -1L): Set[String] =
      StoreReader.changedKeysSince(spark, store, since, v)
        .as[String].collect().toSet

    // Fresh store: empty at since = -1, anything else refused.
    assert(StoreReader.changedKeysSince(spark, store, -1L).collect().isEmpty)
    intercept[IllegalArgumentException] {
      StoreReader.changedKeysSince(spark, store, 0L)
    }

    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"), Person("c", "CA"))))
    val v0 = ex.snapshotVersion()
    assert(extKeys(-1L) == engineKeys(-1L))
    assert(extKeys(-1L) == Set("CA", "TX"))

    // The update touches a's old key and its new key.
    ex.execute(spark.createDataset(Seq(Person("a", "NV"))))
    assert(extKeys(v0) == engineKeys(v0))
    assert(extKeys(v0) == Set("CA", "NV"))
    // The engine-free poll loop: invalidations -> pruned refetch.
    val refetched = StoreReader.keysQuery(spark, store,
      extKeys(v0).toSeq.sorted)
    assert(refetched.as[(String, String, Long)].collect()
      .map { case (_, s, c) => s -> c }.toMap == Map("CA" -> 1L, "NV" -> 1L))

    // A whole-key delete invalidates the vanished key.
    val v1 = ex.snapshotVersion()
    ex.delete("TX")
    assert(extKeys(v1) == engineKeys(v1))
    assert(extKeys(v1) == Set("TX"))

    // Upper bound pinned by the caller: records past v1 are invisible.
    assert(extKeys(v0, v1) == Set("CA", "NV"))

    // compact() prunes old records: asking below the horizon fails
    // loudly on BOTH surfaces, never silently under-reports.
    ex.execute(spark.createDataset(Seq(Person("b", "CA"))))
    ex.compact()
    val h = StoreReader.changedHorizon(spark, store)
    assert(h == ex.changedHorizonVersion())
    if (h > -1L) {
      intercept[IllegalStateException] { extKeys(h - 1) }
      intercept[IllegalStateException] { engineKeys(h - 1) }
    }
    // At-or-above the horizon both surfaces still agree.
    assert(extKeys(h) == engineKeys(h))
  }

  test("external diffSince serves the engine's before/after feed — " +
      "insert/update/delete verdicts, cumulative windows, and a " +
      "data-level refusal of ambiguous pairing") {
    val store = TestTmp.dir("graft-extread-diff")
    val ex = new Executer(PeopleCountSingle, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"),
      Person("d", "WA"))))
    val v0 = ex.snapshotVersion()
    // CA update, WA delete, NV insert, TX untouched — the engine
    // diffSince scenario (ChangedKeysSpec), read engine-free.
    ex.execute(spark.createDataset(Seq(Person("b", "NV"), Person("d", "NV"))))

    def feed(df: org.apache.spark.sql.DataFrame) = df
      .select($"reduce_key", $"change_type", $"old_count", $"new_count")
      .as[(String, String, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val extFeed = feed(StoreReader.diffSince(spark, store, v0))
    assert(extFeed == feed(ex.diffSince(v0)),
      "external diff diverges from the engine's")
    assert(extFeed.keySet == Set("CA", "WA", "NV"), "TX was untouched")
    assert(extFeed("CA") == (("update", Some(2L), Some(1L))))
    assert(extFeed("WA") == (("delete", Some(1L), None)))
    assert(extFeed("NV") == (("insert", None, Some(2L))))

    // Cumulative like changedKeysSince; empty at the head; caller-
    // pinned upper bound hides later churn.
    val v1 = ex.snapshotVersion()
    ex.delete("CA")
    assert(feed(StoreReader.diffSince(spark, store, v1)).keySet == Set("CA"))
    assert(feed(StoreReader.diffSince(spark, store, v0))("CA")._1 == "delete")
    assert(StoreReader.diffSince(spark, store, ex.snapshotVersion())
      .count() == 0L)
    assert(feed(StoreReader.diffSince(spark, store, v0, v1))("CA")._1
      == "update", "pinned upper bound must hide the later delete")

    // A store whose keys REALLY carry multiple output rows: the images
    // cannot be paired by reduce_key — the external reader cannot see
    // the task's singleOutput declaration, so it must detect the
    // ambiguity in the data and refuse, never pair arbitrarily.
    val mstore = TestTmp.dir("graft-extread-diff-multi")
    val mex = new Executer(StateHalves, mstore, cfg)
    mex.execute(spark.createDataset(Seq(
      Person("a1", "CA"), Person("b2", "CA"))))
    val mv0 = mex.snapshotVersion()
    mex.execute(spark.createDataset(Seq(Person("a1", "CA"), Person("b2", "CA"),
      Person("c1", "CA"))))
    intercept[IllegalStateException] {
      StoreReader.diffSince(spark, mstore, mv0).collect()
    }
  }

  test("fresh store reads empty; legacy store is refused loudly") {
    val fresh = TestTmp.dir("graft-extread-fresh")
    assert(StoreReader.currentVersion(spark, fresh) == -1L)
    assert(StoreReader.finals(spark, fresh).collect().isEmpty)

    // A store whose keys were all tombstoned away is NOT the fresh
    // shape: the generation exists, live map_results rows carry the
    // payload struct, and the external read must keep queryAll's column
    // layout (code-review r14: the key-only fallback broke
    // `.select("count")` on exactly the currently-empty store).
    val drained = TestTmp.dir("graft-extread-drained")
    val ex0 = new Executer(PeopleCountByState, drained, cfg)
    ex0.execute(spark.createDataset(Seq(Person("a", "CA"))))
    ex0.deleteDocuments(Seq("a"))
    val ext = StoreReader.finals(spark, drained)
    assert(ext.collect().isEmpty)
    assert(ext.columns.toSeq == Seq("reduce_key", "state", "count"),
      "drained-store finals must keep the payload columns")
    assert(StoreReader.pointQuery(spark, drained, "CA").collect().isEmpty)

    // The documented last edge: a whole-key rewrite delete of the ONLY
    // key leaves no live file in any table — the payload schema then
    // exists nowhere an external reader may trust, and the read
    // degrades to the key-only empty frame.
    val gone = TestTmp.dir("graft-extread-gone")
    val ex1 = new Executer(PeopleCountByState, gone, cfg)
    ex1.execute(spark.createDataset(Seq(Person("a", "CA"))))
    ex1.delete("CA")
    val g = StoreReader.finals(spark, gone)
    assert(g.collect().isEmpty)
    assert(g.columns.toSeq == Seq("reduce_key"))

    val legacy = LegacyStore.build("graft-extread-legacy")
    assert(StoreReader.currentVersion(spark, legacy) == -1L)
    LegacyStore.assertRefused(legacy)(StoreReader.finals(spark, legacy))
  }

  test("head re-resolve survives aggressive GC + compaction; a stale " +
      "pin past retention fails loudly or stays right, never silently " +
      "wrong") {
    val store = TestTmp.dir("graft-extread-gc")
    val ex = new Executer(PeopleCountByState, store,
      cfg.copy(manifestRetention = 1, manifestGraceMs = 0L))
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"))))
    val v0 = ex.snapshotVersion()
    val pinnedV0 = StoreReader.finals(spark, store, v0)
    val v0State = Map("CA" -> 1L, "TX" -> 1L)
    assert(m(pinnedV0.as[(String, String, Long)].collect()) == v0State)

    // Churn far past retention, then compact (the explicit GC hammer).
    for (i <- 1 to 4)
      ex.execute(spark.createDataset(Seq(Person("a", if (i % 2 == 0) "CA" else "NV"))))
    ex.compact()

    // A FRESH head resolve is always readable and equals the engine.
    assert(externalState(store) == engineState(ex))

    // The stale v0 plan holds paths compact() may have removed: the
    // acceptable outcomes are v0's exact rows (files still present) or
    // a loud read error — a silently different answer would be the one
    // unacceptable shape for a snapshot read.
    scala.util.Try(pinnedV0.as[(String, String, Long)].collect()) match {
      case scala.util.Success(rows) => assert(m(rows) == v0State,
        "stale pin returned rows that are neither v0's nor an error")
      case scala.util.Failure(_) => () // loud is correct past retention
    }
  }

  test("under churn, every engine-free head read equals a published " +
      "generation (conserved total; no torn reads)") {
    val store = TestTmp.dir("graft-extread-churn")
    val ex = new Executer(PeopleCountByState, store, cfg)
    val N = 60
    def person(i: Int, flip: Boolean): Person =
      Person(s"p-$i", if ((i % 2 == 0) ^ flip) "CA" else "TX")
    ex.execute(spark.createDataset((1 to N).map(person(_, flip = false))))

    // Writer thread churns moves (total conserved); the main thread
    // reads the head through the external recipe only. Any total other
    // than N is a torn read — the invariant SwapChurnDemo checks
    // cross-process, here against the engine-free path.
    @volatile var stop = false
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      var round = 0
      try while (!stop) {
        round += 1
        val batch = (1 to 15).map(i => person(i * 4 % N + 1, round % 2 == 1))
          .distinctBy(_.id)
        ex.execute(spark.createDataset(batch))
      } catch { case t: Throwable => writerErr.set(t) }
    }, "storereader-churn-writer")
    writer.start()
    try {
      var reads = 0
      while (reads < 8 && writerErr.get() == null) {
        val total = StoreReader.finals(spark, store)
          .as[(String, String, Long)].collect().map(_._3).sum
        assert(total == N, s"torn external read: total $total != $N")
        reads += 1
      }
    } finally {
      stop = true
      writer.join(60000)
    }
    assert(writerErr.get() == null,
      s"churn writer failed: ${writerErr.get()}")
  }
}

/** A key with genuinely MULTIPLE output rows (one per id-suffix half):
  * the shape for which before/after images cannot be paired by
  * reduce_key — the external diffSince must refuse on the DATA (it
  * cannot see a task's singleOutput declaration). */
case class StateHalf(state: String, half: String, count: Long)
object StateHalves extends graft.core.MapReduceTask[Person, StateHalf] {
  def map(docs: Iterator[Person]): Iterator[(String, StateHalf)] =
    docs.map(p => (p.id,
      StateHalf(p.state, if (p.id.endsWith("1")) "a" else "b", 1L)))
  def reduce(entries: Iterator[StateHalf]): Iterator[StateHalf] =
    entries.toSeq.groupBy(e => (e.state, e.half))
      .map { case ((s, h), es) => StateHalf(s, h, es.map(_.count).sum) }
      .iterator
  def reduceKey(e: StateHalf): String = e.state
  def documentId(p: Person): String = p.id
}
