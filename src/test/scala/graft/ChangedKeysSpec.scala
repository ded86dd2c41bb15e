package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig}

/** The CDC invalidation surface (`changedKeysSince`): per published
  * generation, the distinct reduce keys any mutation touched — what a
  * downstream consumer holding generation-v results must refetch.
  * Pins: exactness per mutation kind (update, doc purge, key delete,
  * rebuild incl. vanished keys), union semantics across generations,
  * compact-only generations contributing nothing, the crash window
  * (invalidations delayed to the recovery's generation, never lost),
  * the pruning horizon failing loudly, and the legacy-store refusal. */
class ChangedKeysSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val cfg = ExecuterConfig(fanIn = 4, finalParts = 2)

  private def changed(ex: Executer[Person, StatePop], since: Long): Set[String] =
    ex.changedKeysSince(since).as[String].collect().toSet

  test("build, update, purge, and key delete each record exactly their " +
      "touched keys; generations union") {
    val store = TestTmp.dir("graft-chg")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"), Person("c", "WA"))))
    val v0 = ex.snapshotVersion()
    // The initial build invalidates everything it created.
    assert(changed(ex, -1L) == Set("CA", "TX", "WA"))
    assert(changed(ex, v0).isEmpty)

    // Re-keying update: old key and new key, nothing else.
    ex.execute(spark.createDataset(Seq(Person("a", "NV"))))
    val v1 = ex.snapshotVersion()
    assert(changed(ex, v0) == Set("CA", "NV"))

    // Doc purge: the purged doc's key only.
    ex.deleteDocuments(Seq("b"))
    val v2 = ex.snapshotVersion()
    assert(changed(ex, v1) == Set("TX"))

    // Whole-key delete.
    ex.delete("WA")
    val v3 = ex.snapshotVersion()
    assert(changed(ex, v2) == Set("WA"))

    // Union across generations, deduplicated.
    assert(changed(ex, v0) == Set("CA", "NV", "TX", "WA"))
    assert(changed(ex, -1L) == Set("CA", "NV", "TX", "WA"))
    assert(changed(ex, v3).isEmpty)
  }

  test("diffSince delivers before/after images with the right " +
      "change_type for insert, update, and delete") {
    val store = TestTmp.dir("graft-chg-diff")
    // diffSince requires singleOutput (the by-key image join is only
    // unambiguous with one output row per key).
    val ex = new Executer(PeopleCountSingle, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"),
      Person("d", "WA"))))
    val v0 = ex.snapshotVersion()

    // One batch producing all three verdicts: CA loses a contributor
    // (update), WA's only contributor re-keys to a brand-new NV (WA
    // delete + NV insert), TX untouched (must not appear at all).
    ex.execute(spark.createDataset(Seq(Person("b", "NV"), Person("d", "NV"))))

    val rows = ex.diffSince(v0)
      .select($"reduce_key", $"change_type",
        $"old_state", $"old_count", $"new_state", $"new_count")
      .as[(String, String, Option[String], Option[Long],
        Option[String], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._4, r._6))).toMap

    assert(rows.keySet == Set("CA", "WA", "NV"), "TX was untouched")
    assert(rows("CA") == (("update", Some(2L), Some(1L))))
    assert(rows("WA") == (("delete", Some(1L), None)))
    assert(rows("NV") == (("insert", None, Some(2L))))

    // The feed is cumulative across generations like changedKeysSince:
    // a later mutation widens the same since-v0 diff, and a diff from
    // the CURRENT generation is empty.
    val v1 = ex.snapshotVersion()
    ex.delete("CA")
    assert(ex.diffSince(v1).select($"reduce_key", $"change_type")
      .as[(String, String)].collect().toSet == Set(("CA", "delete")))
    assert(ex.diffSince(v0).where($"reduce_key" === "CA")
      .select($"change_type").as[String].collect().toSeq == Seq("delete"))
    assert(ex.diffSince(ex.snapshotVersion()).count() == 0L)
  }

  test("diffSince refuses multi-output tasks: by-key images would pair " +
      "old and new rows arbitrarily") {
    val store = TestTmp.dir("graft-chg-diff-multi")
    // PeopleCountByState does not declare singleOutput — a legal task
    // shape for which the feed's full_outer join on reduce_key is
    // ill-defined. It must fail loudly, not return wrong images.
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(Person("a", "CA"))))
    val v0 = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("a", "TX"))))
    intercept[IllegalArgumentException] { ex.diffSince(v0) }
  }

  test("a compact-only generation contributes no invalidations") {
    val store = TestTmp.dir("graft-chg-compact")
    // Generous retention: compact() prunes changed records past the
    // retention window (tested separately below); here the baseline
    // must survive the compact so the compact-only generation's
    // contribution is observable.
    val ex = new Executer(PeopleCountByState, store,
      cfg.copy(manifestRetention = 100))
    ex.execute(spark.createDataset(Seq(Person("a", "CA"), Person("b", "TX"))))
    val v0 = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("a", "TX"))))
    ex.compact()
    assert(changed(ex, v0) == Set("CA", "TX"))
    assert(changed(ex, ex.snapshotVersion()).isEmpty)
  }

  test("delta-maintained stores record the same invalidation sets") {
    val store = TestTmp.dir("graft-chg-delta")
    val ex = new Executer(DeltaCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))
    val v0 = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("a", "TX"), Person("b", "SKIP"))))
    assert(ex.lastStats.get.mode == "delta")
    // Both CA docs moved away (CA vanished — must be invalidated); TX
    // gained one.
    assert(ex.changedKeysSince(v0).as[String].collect().toSet ==
      Set("CA", "TX"))
  }

  test("rebuild fallback records old ∪ new keys, including vanished ones") {
    val store = TestTmp.dir("graft-chg-rebuild")
    // Same shape as RebuildFallbackSpec: per-doc keys, bulk re-keying
    // update past the dirty fraction, batch large via low driver limit.
    val ex = new Executer(PeopleCountByState, store,
      ExecuterConfig(fanIn = 8, finalParts = 4, driverDirtyLimit = 256))
    val base = (0 until 800).map(i => Person(s"d$i", s"S$i"))
    ex.execute(spark.createDataset(base))
    val v0 = ex.snapshotVersion()
    val upd = (0 until 600).map(i => Person(s"d$i", s"R$i"))
    ex.execute(spark.createDataset(upd))
    assert(ex.lastStats.get.mode == "rebuild-fallback")
    val got = changed(ex, v0)
    // A rebuild reprocesses everything: the record is old ∪ new FINAL
    // keys — every vanished key (S0–S599), every created key
    // (R0–R599), and the surviving untouched keys (S600–S799); a
    // consumer must refetch all of them because the whole store was
    // rewritten under it.
    val want = ((0 until 600).flatMap(i => Seq(s"S$i", s"R$i")) ++
      (600 until 800).map(i => s"S$i")).toSet
    assert(got == want)
  }

  test("a crash delays invalidations to the recovery's generation, " +
      "never loses them") {
    val store = TestTmp.dir("graft-chg-crash")
    val ex = new Executer(DeltaCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(Person("a", "CA"), Person("c", "TX"))))
    val v0 = ex.snapshotVersion()
    DeltaCountByState.poison = true
    // Driver-merged spelling throws the poison bare; distributed wraps
    // it in a SparkException — the crash window is what matters here.
    try intercept[Exception] {
      ex.execute(spark.createDataset(Seq(Person("a", "WA"))))
    } finally DeltaCountByState.poison = false
    // Batch invisible; recovery replays the WAL and archives its keys.
    ex.recover()
    ex.execute(spark.createDataset(Seq(Person("a", "WA"))))
    val got = changed(ex, v0)
    assert(got.contains("CA") && got.contains("WA"))
  }

  test("a no-op batch never clobbers the previous generation's record") {
    val store = TestTmp.dir("graft-chg-noop")
    val ex = new Executer(DeltaCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(Person("a", "CA"))))
    val v0 = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("b", "TX"))))
    // A batch of brand-new all-SKIP docs: no map rows, no stale rows,
    // nothing staged — no generation publishes. The archive must not
    // overwrite the last real generation's record with this batch's
    // empty key set (code-review r8).
    ex.execute(spark.createDataset(Seq(Person("z1", "SKIP"), Person("z2", "SKIP"))))
    assert(ex.snapshotVersion() > v0)
    assert(changed(ex, v0) == Set("TX"))
  }

  test("compact prunes old records and the horizon fails loudly") {
    val store = TestTmp.dir("graft-chg-horizon")
    val ex = new Executer(PeopleCountByState, store,
      cfg.copy(manifestRetention = 1, manifestGraceMs = 0L))
    ex.execute(spark.createDataset(Seq(Person("a", "CA"))))
    val v0 = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("a", "TX"))))
    ex.execute(spark.createDataset(Seq(Person("a", "WA"))))
    ex.compact()
    val cur = ex.snapshotVersion()
    // Recent window still answerable; the pruned baseline refuses.
    assert(changed(ex, cur).isEmpty)
    intercept[IllegalStateException] { ex.changedKeysSince(v0) }
  }

  test("a compact() racing the poll is refused on both surfaces, never " +
      "under-reported") {
    val store = TestTmp.dir("graft-chg-race")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(Person("a", "CA"))))
    val v0 = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("a", "TX"))))
    ex.execute(spark.createDataset(Seq(Person("b", "WA"))))
    assert(changed(ex, v0) == Set("CA", "TX", "WA"))
    // The same store through a filesystem that prunes generation v0+1's
    // record between the poll's horizon check and its listing.
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${RacyHorizonFileSystem.Scheme}.impl",
      classOf[RacyHorizonFileSystem].getName)
    val racy = s"${RacyHorizonFileSystem.Scheme}://$store"
    val reader = new Executer(PeopleCountByState, racy, cfg)
    val polls = Seq[(String, () => Any)](
      "engine" -> (() => reader.changedKeysSince(v0).collect()),
      "external" ->
        (() => graft.sources.StoreReader.changedKeysSince(spark, racy, v0)
          .collect()))
    for ((surface, poll) <- polls) {
      new java.io.File(s"$store/changed/_horizon").delete()
      RacyHorizonFileSystem.arm(s"$store/changed/c${v0 + 1}", v0 + 1)
      val e = intercept[IllegalStateException](poll())
      assert(e.getMessage.contains("pruned concurrently"), s"$surface: $e")
      assert(RacyHorizonFileSystem.fired, s"$surface: the race never ran")
    }
  }

  test("legacy stores refuse: generations are a manifest construct") {
    val store = LegacyStore.build("graft-chg-legacy")
    LegacyStore.assertRefused(store) {
      new Executer(PeopleCountByState, store, cfg).changedKeysSince(-1L)
    }
  }
}

/** A local filesystem under its own scheme that acts out a `compact()`
  * racing a changed-keys poll. Armed with a record path and the horizon
  * that prunes it, the first `exists` of that record writes
  * `changed/_horizon` — `compact()` writes the horizon before deleting
  * records — and answers false, as if the record were already deleted.
  * Registered under `fs.<Scheme>.impl`, the seam
  * [[graft.core.NoChmodLocalFileSystem]] uses for `file`. */
class RacyHorizonFileSystem extends graft.core.NoChmodLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${RacyHorizonFileSystem.Scheme}:///")

  override def exists(p: org.apache.hadoop.fs.Path): Boolean = {
    val armed = RacyHorizonFileSystem.armed.get
    armed match {
      case Some((record, horizon)) if p.toUri.getPath == record &&
          RacyHorizonFileSystem.armed.compareAndSet(armed, None) =>
        val out = new java.io.DataOutputStream(new java.io.FileOutputStream(
          new java.io.File(new java.io.File(record).getParentFile, "_horizon")))
        try out.writeLong(horizon) finally out.close()
        false
      case _ => super.exists(p)
    }
  }
}

object RacyHorizonFileSystem {
  val Scheme = "racyhorizon"
  private[graft] val armed =
    new java.util.concurrent.atomic.AtomicReference[Option[(String, Long)]](None)
  def arm(record: String, horizon: Long): Unit = armed.set(Some((record, horizon)))
  def fired: Boolean = armed.get.isEmpty
}
