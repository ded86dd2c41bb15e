package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig, MapReduceTask}
import graft.sources.StoreReader

case class Resident(id: String, state: String, city: String)
case class CityPop(state: String, city: String, count: Long)

/** A MULTI-output task: one row per (state, city) under the state key,
  * so a key read returns several rows. */
object CityCountByState extends MapReduceTask[Resident, CityPop] {
  def map(docs: Iterator[Resident]): Iterator[(String, CityPop)] =
    docs.map(r => (r.id, CityPop(r.state, r.city, 1L)))
  def reduce(entries: Iterator[CityPop]): Iterator[CityPop] =
    entries.toSeq.groupBy(e => (e.state, e.city)).map { case ((s, c), es) =>
      CityPop(s, c, es.map(_.count).sum) }.iterator
  def reduceKey(e: CityPop): String = e.state
  def documentId(r: Resident): String = r.id
}

/** Key reads are served on the driver from the keys' final partitions
  * ([[graft.core.StoreSnapshot.keysRead]]): no Spark job per read, the
  * Spark plan kept only past the driver-read gate. Pins: each read, a
  * local-only changed-keys poll and a before/after diff over one run 0
  * listener-counted jobs; a local first build runs none and says so in
  * `lastStats`; a reclaimed generation fails loudly in both spellings.
  * [[DriverReadProps]] pins driver ≡ Spark plan under churn. */
class DriverReadSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val cfg = ExecuterConfig(fanIn = 4, finalParts = 2)

  private def jobs[A](f: => A): Int = SparkJobs.count(spark)(f)._2

  test("a local first build runs no Spark job and lastStats says 0") {
    val store = TestTmp.dir("graft-dread-build")
    val ex = new Executer(PeopleCountByState, store, cfg)
    val n = jobs(ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"), Person("c", "CA")))))
    assert(ex.lastStats.map(_.mode) == Some("build"))
    assert(n == 0, s"local first build ran $n Spark jobs")
    assert(ex.lastStats.map(_.sparkJobs) == Some(n),
      s"lastStats counts ${ex.lastStats.map(_.sparkJobs)}, the listener $n")
  }

  test("a 1-doc update and a 1-id purge run 0 Spark jobs, on a recompute " +
      "and a delta task") {
    for ((name, tk) <- Seq("recompute" -> PeopleCountByState,
        "delta" -> DeltaCountByState)) {
      val ex = new Executer(tk, TestTmp.dir(s"graft-dread-purge-$name"), cfg)
      ex.execute(spark.createDataset(Seq(
        Person("a", "CA"), Person("b", "TX"), Person("c", "CA"))))
      val nu = jobs(ex.execute(spark.createDataset(Seq(Person("a", "NV")))))
      assert(nu == 0, s"$name: the 1-doc update ran $nu Spark jobs")
      // The delta spelling counts only the jobs it runs.
      if (name == "delta") assert(ex.lastStats.map(_.sparkJobs) == Some(nu),
        s"$name update: lastStats counts ${ex.lastStats.map(_.sparkJobs)}")
      val np = jobs(ex.deleteDocuments(Seq("b")))
      assert(np == 0, s"$name: the 1-id purge ran $np Spark jobs")
      assert(ex.lastStats.map(_.mode) == Some("delete-docs"))
      if (name == "delta") assert(ex.lastStats.map(_.sparkJobs) == Some(np),
        s"$name purge: lastStats counts ${ex.lastStats.map(_.sparkJobs)}")
      assert(ex.queryAll().collect().map(r => (r.getString(0), r.getLong(2)))
        .toMap == Map("CA" -> 1L, "NV" -> 1L))
    }
  }

  test("key reads and a local-only changed-keys poll run 0 Spark jobs") {
    val store = TestTmp.dir("graft-dread-zero")
    // singleOutput, so diffSince (paired by key) serves this store too.
    val ex = new Executer(PeopleCountSingle, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "TX"), Person("c", "CA"))))
    val v0 = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("a", "NV"))))
    val reads = Seq[(String, () => Array[_])](
      "query" -> (() => ex.query("CA").collect()),
      "query miss" -> (() => ex.query("ZZ").collect()),
      "queryKeys" -> (() => ex.queryKeys(Seq("CA", "NV", "ZZ")).collect()),
      "queryAt" -> (() => ex.queryAt("CA", v0).collect()),
      "changedKeysSince" -> (() => ex.changedKeysSince(v0).collect()),
      "pointQuery" -> (() => StoreReader.pointQuery(spark, store, "CA").collect()),
      "pointQuery miss" -> (() => StoreReader.pointQuery(spark, store, "ZZ").collect()),
      "pointQuery pinned" ->
        (() => StoreReader.pointQuery(spark, store, "CA", v0).collect()),
      "keysQuery" ->
        (() => StoreReader.keysQuery(spark, store, Seq("CA", "TX")).collect()),
      "keysQuery pinned" ->
        (() => StoreReader.keysQuery(spark, store, Seq("CA", "TX"), v0).collect()),
      "external changedKeysSince" ->
        (() => StoreReader.changedKeysSince(spark, store, v0).collect()),
      // Local records and driver key reads at both generations, paired
      // by key on the driver.
      "diffSince" -> (() => ex.diffSince(v0).collect()),
      "external diffSince" ->
        (() => StoreReader.diffSince(spark, store, v0).collect()))
    for ((name, read) <- reads) {
      val n = jobs(read())
      assert(n == 0, s"$name ran $n Spark jobs")
    }
    // The answers, for the record (the property pins driver ≡ plan).
    assert(ex.query("CA").collect().toSeq == Seq(StatePop("CA", 1L)))
    assert(ex.queryAt("CA", v0).collect().toSeq == Seq(StatePop("CA", 2L)))
    assert(ex.changedKeysSince(v0).as[String].collect().toSet ==
      Set("CA", "NV"))
    assert(StoreReader.changedKeysSince(spark, store, v0).as[String]
      .collect().toSet == Set("CA", "NV"))
    def feed(df: DataFrame) = df
      .select($"reduce_key", $"change_type", $"old_count", $"new_count")
      .as[(String, String, Option[Long], Option[Long])].collect().toSet
    val want = Set(("CA", "update", Some(2L), Some(1L)),
      ("NV", "insert", None, Some(1L)))
    assert(feed(ex.diffSince(v0)) == want)
    assert(feed(StoreReader.diffSince(spark, store, v0)) == want)
  }

  test("a reclaimed generation fails loudly in both spellings") {
    val store = TestTmp.dir("graft-dread-gc")
    val ex = new Executer(PeopleCountByState, store, cfg)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))
    val v0 = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("a", "TX"))))
    ex.compact()
    def loud(what: String)(f: => Any): Unit = {
      val e = intercept[Exception](f)
      assert(e.toString.toLowerCase.contains("file"),
        s"$what: expected a file-level failure, got $e")
    }
    // A fresh handle: the writer's manifest cache must not mask the GC.
    val fresh = new Executer(PeopleCountByState, store, cfg)
    loud("queryAt")(fresh.queryAt("CA", v0).collect())
    loud("query plan at v0")(
      fresh.snapshotAt(v0).keysPlan(Seq("CA")).collect())
    // The writer still caches v0's manifest; its data files are gone.
    loud("queryAt, cached manifest")(ex.queryAt("CA", v0).collect())
    loud("query plan at v0, cached manifest")(
      ex.snapshotAt(v0).keysPlan(Seq("CA")).collect())
    loud("pointQuery")(StoreReader.pointQuery(spark, store, "CA", v0).collect())
    loud("pointQuery plan")(
      StoreReader.snapshot(spark, store, v0).get.keysPlan(Seq("CA")).collect())
  }
}

/** Driver read ≡ Spark plan, for every key read on both surfaces
  * (`query`, `queryKeys`, `queryAt`, `StoreReader.pointQuery` and
  * `keysQuery`, at head and pinned), at every state a random schedule
  * of ingests/re-submissions, document purges, whole-key deletes and
  * `compact()` reaches, on a multi-output store. Rows compare as sets:
  * row order is unspecified in both spellings. */
object DriverReadProps extends Properties("DriverRead") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(TestBudget.minSuccessful(8, 40))

  private val NumIds = 24
  private val states = Vector("CA", "TX", "WA", "NV")
  private val cities = Vector("x", "y", "z")

  private sealed trait Op
  private case class Ingest(docs: List[(Int, Int, Int)]) extends Op
  private case class PurgeDocs(ids: List[Int]) extends Op
  private case class DeleteKey(state: Int) extends Op
  private case object Compact extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    6 -> (for {
      n <- Gen.chooseNum(1, 6)
      docs <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, NumIds - 1),
        Gen.chooseNum(0, states.size - 1), Gen.chooseNum(0, cities.size - 1)))
    } yield Ingest(docs)),
    2 -> (for {
      n <- Gen.chooseNum(1, 4)
      ids <- Gen.listOfN(n, Gen.chooseNum(0, NumIds - 1))
    } yield PurgeDocs(ids)),
    1 -> Gen.chooseNum(0, states.size - 1).map(DeleteKey),
    1 -> Gen.const(Compact))

  private val genSchedule: Gen[List[Op]] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, genOp))

  implicit private lazy val spark: SparkSession = TestSpark.spark

  private lazy val store = TestTmp.dir("graft-dreadprops")
  // Retention far past the schedule count: only compact() reclaims.
  private lazy val ex = {
    val e = new Executer(CityCountByState, store,
      ExecuterConfig(fanIn = 4, finalParts = 2, manifestRetention = 10000))
    e.execute(spark.createDataset(Seq(Resident("r0", "CA", "x")))(
      org.apache.spark.sql.Encoders.product[Resident]))
    e
  }
  // Generations still pinnable (compact() reclaims every earlier one).
  private var pinnable = Vector.empty[Long]

  private def run(op: Op): Unit = {
    import spark.implicits._
    op match {
      case Ingest(docs) =>
        val effective = docs.map { case (i, s, c) =>
          Resident(s"r$i", states(s), cities(c)) }.groupBy(_.id).map(_._2.last)
        ex.execute(spark.createDataset(effective.toSeq))
      case PurgeDocs(ids) => ex.deleteDocuments(ids.distinct.map(i => s"r$i"))
      case DeleteKey(s) => ex.delete(states(s))
      case Compact => ex.compact(); pinnable = Vector.empty
    }
    pinnable = (pinnable :+ ex.snapshotVersion()).takeRight(3)
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** Same schema and the same rows. */
  private def same(driver: DataFrame, plan: DataFrame): Boolean =
    driver.schema == plan.schema && rows(driver) == rows(plan)

  property("driver key reads ≡ the Spark plan, at head and pinned") =
    Prop.forAll(genSchedule) { sched =>
      sched.foreach(run)
      val keys = states :+ "ZZ-absent"
      val head = ex.snapshotAt(-1L)
      val old = pinnable.head
      def flat(plan: DataFrame) = plan.select("reduce_key", "payload.*")
      def enginePlan(v: Long, ks: Seq[String]) =
        flat(ex.snapshotAt(v).keysPlan(ks))
      def externalPlan(v: Long, ks: Seq[String]) =
        flat(StoreReader.snapshot(spark, store, v).get.keysPlan(ks))
      val served = keys.forall(k => head.keysRead(Seq(k)).opened.isDefined)
      val queryOk = keys.forall(k => same(ex.query(k).toDF(),
        enginePlan(-1L, Seq(k)).drop("reduce_key")))
      val keysOk = same(ex.queryKeys(keys), enginePlan(-1L, keys)) &&
        same(ex.queryKeys(Nil), enginePlan(-1L, Nil))
      val atOk = keys.forall(k => same(ex.queryAt(k, old).toDF(),
        enginePlan(old, Seq(k)).drop("reduce_key")))
      val extOk = Seq(-1L, old).forall { v =>
        keys.forall(k => same(StoreReader.pointQuery(spark, store, k, v),
            externalPlan(v, Seq(k)))) &&
          same(StoreReader.keysQuery(spark, store, keys, v),
            externalPlan(v, keys))
      }
      val ok = served && queryOk && keysOk && atOk && extOk
      if (!ok) println(s"DRIVER READ DIVERGENCE: schedule=$sched " +
        s"pinned=$old served=$served query=$queryOk keys=$keysOk " +
        s"at=$atOk external=$extOk")
      ok
    }
}
