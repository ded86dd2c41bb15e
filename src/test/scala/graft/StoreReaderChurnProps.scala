package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.core.{Executer, ExecuterConfig}
import graft.sources.StoreReader

/** Randomized engine-equality for the ENTIRE external read surface
  * (the ChurnProps doctrine pointed at [[StoreReader]]): one
  * long-lived manifest store churned by random schedules of ingests/
  * updates, document purges, full-key deletes, and `compact()`; after
  * every schedule each external read — `finals` (head AND pinned),
  * `pointQuery`, `keysQuery`, `contributors` (through the merge-on-
  * read tombstone overlay), and `changedKeysSince` — is compared
  * against the engine's own spelling on the same store. `diffSince`
  * runs the same shared code on both surfaces, so both are compared
  * against an in-test reference instead: a full outer join of the
  * engine's `queryAllAt` at both generations over the changed keys.
  * StoreReaderSpec pins directed matrices; this property says the two
  * surfaces agree at EVERY reachable state a few hundred random
  * operations can produce, including post-compact horizon refusals
  * (both sides must throw on the same below-horizon ask).
  */
/** [[PeopleCountByState]] with the `singleOutput` declaration its
  * semantics already satisfy (one row per state key) — `diffSince`
  * requires it on the engine side, and the external twin must agree. */
object SRPeopleCountByState
    extends graft.core.MapReduceTask[Person, StatePop] {
  def map(docs: Iterator[Person]): Iterator[(String, StatePop)] =
    docs.map(p => (p.id, StatePop(p.state, 1L)))
  def reduce(entries: Iterator[StatePop]): Iterator[StatePop] =
    entries.toSeq.groupBy(_.state).map { case (s, es) =>
      StatePop(s, es.map(_.count).sum) }.iterator
  def reduceKey(e: StatePop): String = e.state
  override def singleOutput: Boolean = true
  def documentId(d: Person): String = d.id
}

object StoreReaderChurnProps extends Properties("StoreReaderChurn") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(TestBudget.minSuccessful(10, 30))

  private val NumIds = 30
  private val states = Vector("CA", "TX", "WA", "NV")

  private sealed trait Op
  private case class Ingest(docs: List[(Int, Int)]) extends Op
  private case class PurgeDocs(ids: List[Int]) extends Op
  private case class DeleteKey(state: Int) extends Op
  private case object Compact extends Op
  private case object Rollback extends Op
  private case object Reshape extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    6 -> (for {
      n <- Gen.chooseNum(1, 6)
      docs <- Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(0, NumIds - 1), Gen.chooseNum(0, states.size - 1)))
    } yield Ingest(docs)),
    2 -> (for {
      n <- Gen.chooseNum(1, 4)
      ids <- Gen.listOfN(n, Gen.chooseNum(0, NumIds - 1))
    } yield PurgeDocs(ids)),
    1 -> Gen.chooseNum(0, states.size - 1).map(DeleteKey),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Rollback),
    1 -> Gen.const(Reshape))

  private val genSchedule: Gen[List[Op]] =
    Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genOp))

  implicit private lazy val spark: org.apache.spark.sql.SparkSession =
    TestSpark.spark

  private var store = ""
  private var exOpt: Option[Executer[Person, StatePop]] = None
  private def ex: Executer[Person, StatePop] = exOpt.getOrElse {
    store = TestTmp.dir("graft-srchurn")
    val e = new Executer(SRPeopleCountByState, store,
      ExecuterConfig(fanIn = 4, finalParts = 2))
    // Seed one generation so every external read resolves a manifest.
    e.execute(spark.createDataset(Seq(Person("p0", "CA")))(
      org.apache.spark.sql.Encoders.product[Person]))
    exOpt = Some(e)
    e
  }
  // Reshape alternates layouts so later schedules read a store whose
  // _config (and with it the external pruning arithmetic) changed.
  private var reshapes = 0
  // Generations we know are still pinnable (compact() reclaims).
  private var lastCompactGen = -1L

  private def docId(i: Int) = s"p$i"

  private def run(op: Op): Unit = {
    import spark.implicits._
    op match {
      case Ingest(docs) =>
        val effective = docs.map { case (i, s) => Person(docId(i), states(s)) }
          .groupBy(_.id).map(_._2.last).toSeq
        ex.execute(spark.createDataset(effective))
      case PurgeDocs(ids) =>
        ex.deleteDocuments(ids.distinct.map(docId))
      case DeleteKey(s) =>
        ex.delete(states(s))
      case Compact =>
        ex.compact()
        lastCompactGen = ex.snapshotVersion()
      case Rollback =>
        // Writable time travel mid-churn: a no-op when the previous
        // generation's manifest is no longer retained (compact).
        try ex.rollbackTo(ex.snapshotVersion() - 1)
        catch { case _: Exception => () }
      case Reshape =>
        // Layout migration mid-churn: every external read must stay
        // engine-equal on the NEW store, whose _config carries a
        // different fanIn/finalParts (different point/contributions
        // pruning arithmetic).
        reshapes += 1
        val cfg =
          if (reshapes % 2 == 1) ExecuterConfig(fanIn = 8, finalParts = 4)
          else ExecuterConfig(fanIn = 4, finalParts = 2)
        val dst = TestTmp.dir("graft-srchurn-rs") + "/s"
        exOpt = Some(ex.reshapeTo(dst, cfg))
        store = dst
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** The before/after feed `(since, v]` built independently of the
    * shared diff: the window's changed keys, and the engine's full-table
    * `queryAllAt` at both generations restricted to them, full-outer
    * joined; a zero-churn window images nothing at `since`. The
    * refusals the contract names: `since`'s manifest reclaimed on disk
    * (with churn to image), or the records' horizon, both
    * IllegalStateException. */
  private def referenceDiff(since: Long,
      v: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    import spark.implicits._
    val keys = ex.changedKeysSince(since).as[String].collect().toSeq
    if (keys.nonEmpty && !new java.io.File(s"$store/_manifests/m$since").exists)
      throw new IllegalStateException(s"generation $since was reclaimed")
    def side(gen: Long, prefix: String, flag: String) = {
      val df = ex.queryAllAt(gen).where(col("reduce_key").isin(keys: _*))
      df.select((col("reduce_key") +: df.columns.toSeq.tail.map(c =>
        col(c).as(s"${prefix}_$c"))) :+ lit(true).as(flag): _*)
    }
    side(if (keys.isEmpty) v else since, "old", "_was").join(side(v, "new", "_is"), Seq("reduce_key"),
        "full_outer")
      .withColumn("change_type", when(col("_was").isNull, "insert")
        .when(col("_is").isNull, "delete").otherwise("update"))
      .drop("_was", "_is")
  }

  property("every external read ≡ the engine's own spelling, at every " +
      "reachable state") = Prop.forAll(genSchedule) { sched =>
    sched.foreach(run)
    val v = ex.snapshotVersion()
    // Deterministic per-schedule key choice keeps the check bounded.
    val key = states(math.abs(sched.hashCode) % states.size)
    val keys = Seq(key, states((states.indexOf(key) + 1) % states.size),
      "ZZ-absent")

    val finalsOk =
      rows(StoreReader.finals(spark, store)) == rows(ex.queryAll()) &&
        rows(StoreReader.finals(spark, store, v)) == rows(ex.queryAllAt(v))
    val pointOk =
      rows(StoreReader.pointQuery(spark, store, key)) ==
        rows(ex.queryKeys(Seq(key)))
    val keysOk =
      rows(StoreReader.keysQuery(spark, store, keys)) ==
        rows(ex.queryKeys(keys))
    val contribOk =
      rows(StoreReader.contributors(spark, store, key)) ==
        rows(ex.contributors(key))
    // Reverse provenance for a doc that churn may have re-stated,
    // purged, or never ingested — the overlay must agree either way.
    val doc = docId(math.abs(sched.hashCode) % NumIds)
    val contribOfOk =
      rows(StoreReader.contributionsOf(spark, store, doc)) ==
        rows(ex.contributionsOf(doc))

    // CDC surface: compare from the horizon-legal floor of the window
    // (the oldest `since` both surfaces must still answer), and assert
    // the SAME refusal below it.
    val h = ex.changedHorizonVersion()
    val hx = StoreReader.changedHorizon(spark, store)
    val horizonOk = h == hx
    val since = math.max(h, v - 2)
    // diffSince additionally needs a published BASE generation for the
    // old images (since >= 0, both surfaces) — and its old-image read
    // time-travels to `since`, whose manifest a compact() may have
    // reclaimed. Either surface may therefore legally fail; the
    // contract under test is that BOTH produce the same rows or the
    // same refusal class, never one silently diverging.
    val sinceD = math.max(since, 0L)
    def outcome(f: => org.apache.spark.sql.DataFrame): Either[String, Set[String]] =
      try Right(rows(f)) catch {
        case e: Throwable => Left(e.getClass.getSimpleName)
      }
    val ckE = outcome(ex.changedKeysSince(since))
    val ckX = outcome(StoreReader.changedKeysSince(spark, store, since))
    val dfE = outcome(ex.diffSince(sinceD))
    val dfX = outcome(StoreReader.diffSince(spark, store, sinceD))
    val dfR = outcome(referenceDiff(sinceD, v))
    val cdcOk = since >= -1 && since <= v && ckE == ckX && dfE == dfR &&
      dfX == dfR
    if (!cdcOk) println(s"CDC DETAIL: since=$since sinceD=$sinceD " +
      s"ckE=$ckE ckX=$ckX dfE=$dfE dfX=$dfX reference=$dfR")
    val refusalOk = h <= 0 || {
      val engineThrew =
        try { ex.changedKeysSince(h - 1); false }
        catch { case _: IllegalStateException => true }
      val externalThrew =
        try { StoreReader.changedKeysSince(spark, store, h - 1); false }
        catch { case _: IllegalStateException => true }
      engineThrew && externalThrew
    }

    val ok = finalsOk && pointOk && keysOk && contribOk && contribOfOk &&
      horizonOk && cdcOk && refusalOk
    if (!ok) println(s"STOREREADER DIVERGENCE: schedule=$sched v=$v " +
      s"key=$key finals=$finalsOk point=$pointOk keys=$keysOk " +
      s"contrib=$contribOk contribOf=$contribOfOk($doc) " +
      s"horizon=$horizonOk($h/$hx) cdc=$cdcOk refusal=$refusalOk")
    ok
  }
}
