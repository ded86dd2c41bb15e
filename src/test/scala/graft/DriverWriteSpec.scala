package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig, MapReduceTask}

/** Non-delta count-by-state: exercises the pruned-recompute driver
  * merge (rereducePrunedDriver) rather than the delta spelling. */
object PlainCountByState extends MapReduceTask[Person, StatePop] {
  def map(docs: Iterator[Person]): Iterator[(String, StatePop)] =
    docs.filter(_.state != "SKIP").map(p => (p.id, StatePop(p.state, 1L)))
  def reduce(entries: Iterator[StatePop]): Iterator[StatePop] =
    entries.toSeq.groupBy(_.state)
      .map { case (s, es) => StatePop(s, es.map(_.count).sum) }.iterator
  def reduceKey(e: StatePop): String = e.state
  def documentId(p: Person): String = p.id
  override def singleOutput: Boolean = true
}

/** The driver-direct parquet spelling of the tiny maintenance writes
  * (round 16): the SAME schedule must produce the SAME maintained state
  * AND the same logical tree-table content whether the files are
  * written by Spark write jobs (`graft.driverParquet=0`) or directly on
  * the driver through Spark's parquet OutputWriter (default). Also pins
  * file-level interchangeability: a store written by one spelling is
  * read and updated by the other. */
class DriverWriteSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def withProp[A](key: String, on: Boolean)(f: => A): A = {
    val old = sys.props.get(key)
    sys.props(key) = if (on) "1" else "0"
    try f finally old match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }

  private def withFlag[A](on: Boolean)(f: => A): A =
    withProp("graft.driverParquet", on)(f)

  private def schedule(seed: Int): Seq[Seq[Person]] = {
    val rnd = new scala.util.Random(seed)
    (0 until 5).map { _ =>
      rnd.shuffle((0 until 80).toList).take(30).map { i =>
        val st = if (rnd.nextInt(8) == 0) "SKIP" else s"S${rnd.nextInt(7)}"
        Person(s"d$i", st)
      }
    }
  }

  private def runSchedule[RT <: Product](
      task: MapReduceTask[Person, RT], cfg: ExecuterConfig, store: String,
      on: Boolean)(implicit tt: scala.reflect.runtime.universe.TypeTag[RT])
      : (Seq[String], Seq[String]) = withFlag(on) {
    val ex = new Executer(task, store, cfg)
    schedule(7).foreach(b => ex.execute(spark.createDataset(b)))
    val state = ex.queryAll().collect().map(_.toString).sorted.toSeq
    val tree = spark.read.parquet(s"$store/reduce_tree")
      .selectExpr("reduce_key", "payload.*", "level", "part")
      .collect().map(_.toString).sorted.toSeq
    (state, tree)
  }

  test("delta-maintained store: driver-written files ≡ job-written files " +
      "(state and logical tree content), manifest layout") {
    val cfg = ExecuterConfig(fanIn = 8, finalParts = 4)
    val (sOn, tOn) =
      runSchedule(DeltaCountByState, cfg, TestTmp.dir("graft-dwon"), on = true)
    val (sOff, tOff) =
      runSchedule(DeltaCountByState, cfg, TestTmp.dir("graft-dwoff"), on = false)
    assert(sOn == sOff, "maintained state diverged between write spellings")
    assert(tOn == tOff, "tree-table content diverged between write spellings")
    assert(sOn.nonEmpty && tOn.nonEmpty)
  }

  test("recompute-maintained store: driver-written ≡ job-written") {
    val cfg = ExecuterConfig(fanIn = 8, finalParts = 4)
    val (sOn, tOn) =
      runSchedule(PlainCountByState, cfg, TestTmp.dir("graft-dwonL"), on = true)
    val (sOff, tOff) =
      runSchedule(PlainCountByState, cfg, TestTmp.dir("graft-dwoffL"), on = false)
    assert(sOn == sOff, "maintained state diverged between write spellings")
    assert(tOn == tOff, "tree-table content diverged between write spellings")
    assert(sOn.nonEmpty && tOn.nonEmpty)
  }

  test("spellings interoperate on one store: built by jobs, updated " +
      "driver-direct, then updated by jobs again") {
    val cfg = ExecuterConfig(fanIn = 8, finalParts = 4)
    val store = TestTmp.dir("graft-dwmix")
    val batches = schedule(11)
    val model = scala.collection.mutable.Map[String, String]()
    def apply(b: Seq[Person], on: Boolean): Unit = withFlag(on) {
      val ex = new Executer(DeltaCountByState, store, cfg)
      ex.execute(spark.createDataset(b))
      b.foreach(p => model(p.id) = p.state)
      val expected = model.values.filter(_ != "SKIP")
        .groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
      val got = ex.queryAll().as[(String, String, Long)].collect()
        .map { case (_, s, c) => s -> c }.toMap
      assert(got == expected)
    }
    apply(batches(0), on = false) // job-built store
    apply(batches(1), on = true)  // driver-direct update reads job files
    apply(batches(2), on = false) // job update reads driver-written files
    apply(batches(3), on = true)
    apply(batches(4), on = true)
  }

  test("the delta merge's driver-side tree read ≡ the collect-job " +
      "spelling (state and logical tree content)") {
    val cfg = ExecuterConfig(fanIn = 8, finalParts = 4)
    val (sOn, tOn) = withProp("graft.driverRead", on = true)(
      runSchedule(DeltaCountByState, cfg, TestTmp.dir("graft-dron"), on = true))
    val (sOff, tOff) = withProp("graft.driverRead", on = false)(
      runSchedule(DeltaCountByState, cfg, TestTmp.dir("graft-droff"), on = true))
    assert(sOn == sOff, "maintained state diverged between read spellings")
    assert(tOn == tOff, "tree-table content diverged between read spellings")
    assert(sOn.nonEmpty && tOn.nonEmpty)
  }

  test("the probe's driver-side map read + fully-driver pruned recompute " +
      "≡ the collect-job spellings (non-delta task)") {
    val cfg = ExecuterConfig(fanIn = 8, finalParts = 4)
    val (sOn, tOn) = withProp("graft.driverRead", on = true)(
      runSchedule(PlainCountByState, cfg, TestTmp.dir("graft-pron"), on = true))
    val (sOff, tOff) = withProp("graft.driverRead", on = false)(
      runSchedule(PlainCountByState, cfg, TestTmp.dir("graft-proff"), on = true))
    assert(sOn == sOff, "maintained state diverged between read spellings")
    assert(tOn == tOff, "tree-table content diverged between read spellings")
    assert(sOn.nonEmpty && tOn.nonEmpty)
  }
}
