package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.core.{Executer, ExecuterConfig}

/** Random op interleavings ≡ from-scratch recompute on the manifest
  * store layout (SURVEY §14). An interrupted batch never moves live
  * data — it leaves a surviving dirty WAL plus orphan files no
  * published manifest references. The simulation here plants both: a
  * conservative WAL naming every (key, parent) pair, and an orphan copy
  * of a live data file (which would double-count every row of its
  * partition if any read or recovery ever adopted it).
  */
object ManifestChurnProps extends Properties("ManifestChurn") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(TestBudget.minSuccessful(25, 60))

  private val NumIds = 40
  private val states = Vector("CA", "TX", "WA", "NV", "OR")

  private sealed trait Op
  private case class Ingest(docs: List[(Int, Int)]) extends Op
  private case class PurgeDocs(ids: List[Int]) extends Op
  private case class DeleteKey(state: Int) extends Op
  private case object Compact extends Op
  // Target choices are GENERATED indices (folded mod the candidate count
  // at apply time), not unseeded-Random draws inside the property: a
  // failing schedule must replay deterministically from the reported
  // ScalaCheck seed (ADVICE r13).
  private case class CrashRecover(idx: Int) extends Op
  private case object Reshape extends Op
  private case class Rollback(idx: Int) extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    6 -> (for {
      n <- Gen.chooseNum(1, 8)
      docs <- Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(0, NumIds - 1), Gen.chooseNum(0, states.size - 1)))
    } yield Ingest(docs)),
    2 -> (for {
      n <- Gen.chooseNum(1, 5)
      ids <- Gen.listOfN(n, Gen.chooseNum(0, NumIds - 1))
    } yield PurgeDocs(ids)),
    1 -> Gen.chooseNum(0, states.size - 1).map(DeleteKey),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Reshape),
    1 -> Gen.chooseNum(0, 63).map(Rollback),
    2 -> Gen.chooseNum(0, 63).map(CrashRecover))

  private val genSchedule: Gen[List[Op]] =
    Gen.chooseNum(2, 5).flatMap(n => Gen.listOfN(n, genOp))

  implicit private lazy val spark: org.apache.spark.sql.SparkSession =
    TestSpark.spark
  private var store = TestTmp.dir("graft-mchurn")
  // Aggressive GC (retention=1, no grace) so the schedules also churn the
  // retired-file reclamation path, not just the happy path.
  private def cfgA = ExecuterConfig(fanIn = 4, finalParts = 2,
    manifestRetention = 1, manifestGraceMs = 0L)
  private def cfgB = ExecuterConfig(fanIn = 8, finalParts = 4,
    manifestRetention = 1, manifestGraceMs = 0L)
  private lazy val ex0 = new Executer(PeopleCountByState, store, cfgA)
  private var exOpt: Option[Executer[Person, StatePop]] = None
  private def ex: Executer[Person, StatePop] = exOpt.getOrElse { exOpt = Some(ex0); ex0 }
  private var reshapes = 0
  private var orphanSeq = 0
  private val model = collection.mutable.Map[String, String]() // id -> state
  // Published (generation → model state) pairs, the rollback targets.
  // Bounded; cleared on reshape (the destination store numbers its
  // generations from scratch).
  private var history = Vector.empty[(Long, Map[String, String])]

  private def docId(i: Int) = s"doc-$i"

  private def run(op: Op): Unit = {
    import spark.implicits._
    op match {
      case Ingest(docs) =>
        val effective = docs.map { case (i, s) => Person(docId(i), states(s)) }
          .groupBy(_.id).map(_._2.last).toSeq
        effective.foreach(p => model(p.id.toUpperCase) = p.state)
        val batch = spark.createDataset(effective)
        ex.execute(if (effective.size % 2 == 0) batch else batch.repartition(2))
      case PurgeDocs(ids) =>
        val names = ids.distinct.map(docId)
        names.foreach(n => model.remove(n.toUpperCase))
        ex.deleteDocuments(names)
      case DeleteKey(s) =>
        model.filterInPlace((_, st) => st != states(s))
        ex.delete(states(s))
      case Compact =>
        ex.compact()
      case Reshape =>
        if (new java.io.File(s"$store/map_results").isDirectory) {
          reshapes += 1
          val dst = TestTmp.dir("graft-mchurn-rs") + "/s"
          exOpt = Some(ex.reshapeTo(dst, if (reshapes % 2 == 1) cfgB else cfgA))
          store = dst
          history = Vector.empty
        }
      case Rollback(idx) =>
        // Hop to any recorded generation. Under this config's aggressive
        // GC (retention=1, grace=0) plus random compact()s, many targets
        // are legitimately unanswerable — the documented refusal shapes
        // (GC'd manifest/files, pruned changed records) must then leave
        // the store BIT-UNCHANGED, which the schedule's final
        // model-equality check proves either way: on success the model
        // becomes the recorded state, on refusal it stays put.
        if (history.nonEmpty) {
          val (v, snap) = history(idx % history.length)
          try {
            ex.rollbackTo(v)
            model.clear(); model ++= snap
          } catch {
            case _: IllegalStateException => ()
            case _: java.io.FileNotFoundException => ()
          }
        }
      case CrashRecover(idx) =>
        // A crashed manifest batch: surviving conservative WAL + orphan
        // data file in a live partition directory. recover() must replay
        // the WAL idempotently and never adopt the orphan.
        val mapDir = new java.io.File(s"$store/map_results")
        val parentDirs =
          if (mapDir.isDirectory)
            mapDir.listFiles().filter(_.getName.startsWith("parent="))
              .sortBy(_.getName)
          else Array.empty[java.io.File]
        if (parentDirs.nonEmpty) {
          val dir = parentDirs(idx % parentDirs.length)
          orphanSeq += 1
          dir.listFiles().find(_.getName.endsWith(".parquet")).foreach { f =>
            java.nio.file.Files.copy(f.toPath,
              dir.toPath.resolve(s"part-orphan-$orphanSeq-${f.getName}"))
          }
          val pairs = ex.queryAll().collect().map(_.getString(0)).flatMap { k =>
            (0 until 4).map(p => (k, p))
          }
          val out = new java.io.DataOutputStream(
            java.nio.file.Files.newOutputStream(
              java.nio.file.Paths.get(store).resolve("dirty.pairs")))
          out.writeInt(pairs.length)
          pairs.foreach { case (k, p) => TestTmp.writeStr(out, k); out.writeInt(p) }
          out.close()
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(store).resolve(".dirty.pairs.crc"))
        }
        ex.recover()
    }
  }

  property("random op interleavings ≡ from-scratch recompute (manifest store)") =
    Prop.forAll(genSchedule) { sched =>
      sched.foreach { op =>
        run(op)
        val v = ex.snapshotVersion()
        if (v >= 0) history = (history :+ (v -> model.toMap)).takeRight(8)
      }
      val got = ex.queryAll().collect()
        .map(r => (r.getString(0), r.getLong(2))).toMap
      val want = model.values.groupBy(identity)
        .map { case (s, xs) => (s, xs.size.toLong) }
      val ok = got == want
      if (!ok) println(s"MANIFEST CHURN DIVERGENCE: schedule=$sched got=$got want=$want")
      ok
    }
}
