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

/** The two spellings of a maintenance batch, chosen by its input: a
  * local batch (createDataset rows) runs on the driver — driver-side
  * map, probe read and tree merge, files written through Spark's
  * parquet OutputWriter on the driver thread — while the same rows
  * submitted as a non-narrow `.repartition(2)` batch run the job
  * spelling (job-written map and tree files, collect probes). The SAME
  * schedule must produce the SAME maintained state AND the same logical
  * tree-table content either way, and a store written by one spelling
  * is read and updated by the other. A local batch on a store holding
  * distributed tombstones keeps its stale probe on the collect job;
  * that spelling must match a fresh build of the final documents. */
class DriverWriteSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def submit(ex: Executer[Person, _], b: Seq[Person],
      distributed: Boolean): Unit =
    ex.execute(
      if (distributed) spark.createDataset(b).repartition(2)
      else spark.createDataset(b))

  private def schedule(seed: Int, batches: Int): Seq[Seq[Person]] = {
    val rnd = new scala.util.Random(seed)
    (0 until batches).map { _ =>
      rnd.shuffle((0 until 80).toList).take(30).map { i =>
        val st = if (rnd.nextInt(8) == 0) "SKIP" else s"S${rnd.nextInt(7)}"
        Person(s"d$i", st)
      }
    }
  }

  private def state(ex: Executer[Person, _]): Seq[String] =
    ex.queryAll().collect().map(_.toString).sorted.toSeq

  private def runSchedule[RT <: Product](
      task: MapReduceTask[Person, RT], cfg: ExecuterConfig, store: String,
      distributed: Boolean)(
      implicit tt: scala.reflect.runtime.universe.TypeTag[RT])
      : (Seq[String], Seq[String]) = {
    val ex = new Executer(task, store, cfg)
    schedule(7, 3).foreach(b => submit(ex, b, distributed))
    val tree = spark.read.parquet(s"$store/reduce_tree")
      .selectExpr("reduce_key", "payload.*", "level", "part")
      .collect().map(_.toString).sorted.toSeq
    (state(ex), tree)
  }

  test("delta-maintained store: driver-written files ≡ job-written files " +
      "(state and logical tree content), manifest layout") {
    val cfg = ExecuterConfig(fanIn = 8, finalParts = 4)
    val (sLocal, tLocal) = runSchedule(DeltaCountByState, cfg,
      TestTmp.dir("graft-dwlocal"), distributed = false)
    val (sDist, tDist) = runSchedule(DeltaCountByState, cfg,
      TestTmp.dir("graft-dwdist"), distributed = true)
    assert(sLocal == sDist, "maintained state diverged between write spellings")
    assert(tLocal == tDist, "tree-table content diverged between write spellings")
    assert(sLocal.nonEmpty && tLocal.nonEmpty)
  }

  test("recompute-maintained store: driver-written ≡ job-written") {
    val cfg = ExecuterConfig(fanIn = 8, finalParts = 4)
    val (sLocal, tLocal) = runSchedule(PlainCountByState, cfg,
      TestTmp.dir("graft-dwlocalL"), distributed = false)
    val (sDist, tDist) = runSchedule(PlainCountByState, cfg,
      TestTmp.dir("graft-dwdistL"), distributed = true)
    assert(sLocal == sDist, "maintained state diverged between write spellings")
    assert(tLocal == tDist, "tree-table content diverged between write spellings")
    assert(sLocal.nonEmpty && tLocal.nonEmpty)
  }

  test("spellings interoperate on one store: built by jobs, updated " +
      "driver-direct, then updated by jobs again") {
    val cfg = ExecuterConfig(fanIn = 8, finalParts = 4)
    val store = TestTmp.dir("graft-dwmix")
    val batches = schedule(11, 5)
    val model = scala.collection.mutable.Map[String, String]()
    def apply(b: Seq[Person], distributed: Boolean): Unit = {
      val ex = new Executer(DeltaCountByState, store, cfg)
      submit(ex, b, distributed)
      b.foreach(p => model(p.id) = p.state)
      val expected = model.values.filter(_ != "SKIP")
        .groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
      val got = ex.queryAll().as[(String, String, Long)].collect()
        .map { case (_, s, c) => s -> c }.toMap
      assert(got == expected)
    }
    apply(batches(0), distributed = true)  // job-built store
    apply(batches(1), distributed = false) // driver-direct update reads job files
    apply(batches(2), distributed = true)  // job update reads driver-written files
    apply(batches(3), distributed = false)
    apply(batches(4), distributed = false)
  }

  /** The Spark schema JSON in the footer of every map_results data file
    * of a store. */
  private def mapFooterSchemas(store: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$store/map_results")
    val files = root.getFileSystem(conf).listFiles(root, true)
    val out = Seq.newBuilder[String]
    while (files.hasNext) {
      val p = files.next().getPath
      if (p.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try out += r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally r.close()
      }
    }
    out.result()
  }

  test("driver-written and job-written map files carry the same Spark " +
      "schema in their footers") {
    val cfg = ExecuterConfig(fanIn = 8, finalParts = 4)
    val b = schedule(3, 2)
    def footers(distributed: Boolean, tag: String): Set[String] = {
      val store = TestTmp.dir(s"graft-dwschema$tag")
      val ex = new Executer(DeltaCountByState, store, cfg)
      b.foreach(submit(ex, _, distributed))
      val fs = mapFooterSchemas(store)
      assert(fs.size >= 2 && !fs.contains(null), s"$tag: footers $fs")
      fs.toSet
    }
    val local = footers(distributed = false, "l")
    val job = footers(distributed = true, "j")
    assert(local.size == 1, s"local batches wrote ${local.size} schemas")
    assert(local == job)
  }

  /** With `driverDirtyLimit = 8`, an 8-doc local build is followed by
    * a 12-doc resubmit that runs distributed, so its tombstones land as
    * a parquet append. Every later 4-doc local batch then finds the
    * driver-side probe read gated off by those tombstones and runs its
    * stale probe as the bounded collect job (4 stale rows + 4 new pairs
    * stay within the limit, so the batch stays on the small-pairs
    * path). The maintained state must equal a fresh build of the final
    * documents. */
  private def collectProbeMatchesFreshBuild[RT <: Product](
      task: MapReduceTask[Person, RT], tag: String)(
      implicit tt: scala.reflect.runtime.universe.TypeTag[RT]): Unit = {
    val store = TestTmp.dir(s"graft-cp$tag")
    val ex = new Executer(task, store,
      ExecuterConfig(fanIn = 8, finalParts = 4, driverDirtyLimit = 8))
    val rnd = new scala.util.Random(13)
    val model = scala.collection.mutable.LinkedHashMap[String, Person]()
    def run(b: Seq[Person]): Unit = {
      ex.execute(spark.createDataset(b))
      b.foreach(p => model(p.id) = p)
    }
    def batch(n: Int): Seq[Person] =
      rnd.shuffle((0 until 16).toList).take(n).map { i =>
        Person(s"d$i", if (rnd.nextInt(8) == 0) "SKIP" else s"S${rnd.nextInt(5)}")
      }
    run((0 until 8).map(i => Person(s"d$i", s"S${i % 5}")))
    run(batch(12)) // at least 4 of its 12 ids are already stored
    assert(new java.io.File(s"$store/tombstones").exists(),
      "the resubmit must leave distributed tombstones")
    for (_ <- 0 until 3) run(batch(4))
    val fresh = new Executer(task, TestTmp.dir(s"graft-cpf$tag"),
      ExecuterConfig(fanIn = 8, finalParts = 4))
    fresh.execute(spark.createDataset(model.values.toSeq))
    assert(state(ex) == state(fresh))
    assert(state(ex).nonEmpty)
  }

  test("collect-job probe on a store with distributed tombstones " +
      "≡ a fresh build (delta task)") {
    collectProbeMatchesFreshBuild(DeltaCountByState, "d")
  }

  test("collect-job probe + pruned recompute on a store with distributed " +
      "tombstones ≡ a fresh build (non-delta task)") {
    collectProbeMatchesFreshBuild(PlainCountByState, "p")
  }
}
