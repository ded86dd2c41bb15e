package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.core.{Executer, ExecuterConfig}
import graft.ops.IndexQueries.{CustOrders, OrderCust, OrdersByCust}
import graft.sources.StoreReader
import graft.streaming.CdcConsumer

/** The benchmark of the maintained index: one closed-loop client thread
  * drives `OrdersByCust` over a seeded sf0.1-sized `orders` corpus
  * through the engine's public calls only, checks every read against an
  * in-process oracle, and prints one JSON result line.
  *
  * Usage: PerfBench <workload> <seed> <steps> <trace 0|1> <scale> <workdir> <cpus> <warm-up>
  *
  * A run is count-bounded: `steps` seeded steps, compaction by step
  * count. The reported times are wall times scaled by the share of CPU
  * the host did not steal ([[Host.stealShare]]), taken once per op kind
  * over all its calls of a phase. With trace=1 the same run
  * is followed by a second, traced phase of `steps` steps; its per-call
  * spans give the per-layer numbers, and its end-to-end numbers minus
  * the untraced phase's are the tracing overhead. */
object PerfBench {

  /** Retired files are reclaimed by generation count only: with the
    * default 600 s grace a run that crosses ten minutes would start
    * deleting files mid-run, and a run shorter than that would never
    * reclaim any (3,660 retired files after 180 generations). */
  val cfg: ExecuterConfig = ExecuterConfig(fanIn = 4, finalParts = 2, manifestGraceMs = 0L)
  val bandCfg: ExecuterConfig = ExecuterConfig(fanIn = 2, finalParts = 1, manifestGraceMs = 0L)

  /** The end-to-end metrics of the result line (BENCHMARK.json). The p95s
    * go to the report line only: a run has too few samples for them. */
  val gated: Set[String] = Set("setup_s", "update_p50_ms", "query_p50_ms",
    "keys_p50_ms", "reader_p50_ms", "cdc_p50_ms", "docs_per_s", "space_amp",
    "heap_live_mb")

  val workloads: Set[String] = Set("trickle", "bulk")

  final case class Args(workload: String, seed: Long, steps: Int, trace: Boolean,
      scale: Double, workdir: Path, cpus: Int, warmup: Int)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4).toDouble, Paths.get(argv(5)).toAbsolutePath, argv(6).toInt, argv(7).toInt)
    require(workloads(a.workload), s"unknown workload ${a.workload}")
    val hostAtStart = Host.cpu()
    Files.createDirectories(a.workdir)
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", "graft.core.NoChmodLocalFileSystem")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.workdir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.workdir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ok = try new Run(spark, a, hostAtStart).run() finally spark.stop()
    System.out.flush()
    if (!ok) sys.exit(1)
  }
}

/** Host CPU counters from /proc/stat (jiffies, all CPUs). */
object Host {
  final case class Cpu(busy: Long, steal: Long, total: Long)

  /** Zeros where /proc/stat cannot be read. Busy counts steal. */
  def cpu(): Cpu =
    try {
      val r = Files.newBufferedReader(Paths.get("/proc/stat"))
      val f = try r.readLine().split("\\s+").slice(1, 9).map(_.toLong) finally r.close()
      Cpu(f.sum - f(3) - f(4), f(7), f.sum)
    } catch { case NonFatal(_) => Cpu(0L, 0L, 0L) }

  /** Share of busy CPU time the hypervisor took from this host between
    * two readings. The benchmark's times are wall times scaled by
    * (1 - share), the share summed over all calls of one op kind in a
    * phase (or over the whole set-up), so that jiffy rounding stays
    * small. On a shared 4-core host this share moved between 1% and 28%
    * across ten bulk runs; their raw p50 latencies spread 0.40-0.44
    * (IQR/median) where the scaled ones spread 0.08-0.17. */
  def stealShare(a: Cpu, b: Cpu): Double = share(b.steal - a.steal, b.busy - a.busy)

  def share(steal: Long, busy: Long): Double = if (busy > 0) steal.toDouble / busy else 0.0
}

/** The six timed operation kinds, each a public engine call. */
object Op {
  val Update = "update"; val Query = "query"; val Keys = "keys"
  val Reader = "reader"; val Cdc = "cdc"; val Compact = "compact"
}

/** `hostAtStart`: the host's CPU counters when the JVM entered main. */
final class Run(spark: SparkSession, a: PerfBench.Args, hostAtStart: Host.Cpu) {
  private implicit val session: SparkSession = spark
  import spark.implicits._

  private val store = a.workdir.resolve("store")
  private val down = a.workdir.resolve("bands").toString
  private val corpus = new Corpus(a.seed, a.scale)
  private val zipf = new Zipf(corpus.customers, a.seed)

  private var ex: Executer[OrderCust, CustOrders] = _
  private var cdc: CdcConsumer[CustOrders, BandAgg] = _
  private var tracer: Tracer = _

  // Per-phase accounting. `recording` is off during set-up and warm-up.
  private var recording = false
  // Per op kind: each call's wall time, and the host's steal and busy
  // jiffies summed over its calls.
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val jiffies = mutable.Map.empty[String, (Long, Long)]
  private var attempted = 0L
  private var failed = 0L
  private var docsSubmitted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var clientNs = 0L

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
  }

  private def client[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally clientNs += System.nanoTime() - t0
  }

  // ---- timed public calls -------------------------------------------

  private var curStep = -1

  /** Runs one public call, timing only the call itself. */
  private def call[A](kind: String)(body: => A)(extra: A => Map[String, Double]): Option[A] = {
    if (recording) attempted += 1
    val o = if (tracer != null) tracer.open(kind, curStep, s"step-$curStep") else null
    val h0 = Host.cpu()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val h1 = Host.cpu()
    if (recording) {
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e6
      val (st, busy) = jiffies.getOrElse(kind, (0L, 0L))
      jiffies(kind) = (st + h1.steal - h0.steal, busy + h1.busy - h0.busy)
    }
    res match {
      case Right(v) =>
        if (o != null) { tracer.close(o, t1); tracer.annotate(extra(v)) }
        Some(v)
      case Left(e) =>
        if (o != null) tracer.close(o, t1)
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        None
    }
  }

  /** path -> (size, mtime) of every file of the upstream store. */
  private def listing(): Map[String, (Long, Long)] = {
    val s = Files.walk(store)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
    }.toMap finally s.close()
  }

  /** Traced-only counters of a mutating call: storeStats and on-disk
    * deltas. The listing is taken outside the timed call. */
  private def mutating[A](kind: String)(body: => A)(extra: A => Map[String, Double]): Option[A] = {
    if (tracer == null) call(kind)(body)(extra)
    else {
      val st0 = ex.storeStats(); val l0 = listing()
      call(kind)(body) { v =>
        val st1 = ex.storeStats()
        val ws = listing().toSeq.collect {
          case (p, (sz, mt)) if !l0.get(p).contains((sz, mt)) => sz
        }
        extra(v) ++ Map(
          "files_written" -> ws.size.toDouble, "bytes_written" -> ws.sum.toDouble,
          "files_before" -> (st0("map_files") + st0("tree_files")).toDouble,
          "files_after" -> (st1("map_files") + st1("tree_files")).toDouble,
          "retired_before" -> st0("retired_files").toDouble,
          "retired_after" -> st1("retired_files").toDouble)
      }
    }
  }

  /** `lastStats` of an update. `OrdersByCust` is delta-reducible, so the
    * engine labels a batch "delta" and a deletion "delete-docs"; any other
    * label shows as mode_delta + mode_delete < calls. The engine reports
    * -1 dirty pairs when its driver probe overflowed (more pairs than
    * `driverDirtyLimit`): such batches count as dirty_overflow. */
  private def modeExtra(): Map[String, Double] = {
    val s = ex.lastStats
    val mode = s.map(_.mode).getOrElse("none")
    val pairs = s.map(_.dirtyPairs).getOrElse(0)
    Map("mode_delta" -> (if (mode == "delta") 1.0 else 0.0),
      "mode_delete" -> (if (mode.startsWith("delete")) 1.0 else 0.0),
      "engine_jobs" -> s.map(_.sparkJobs.toDouble).getOrElse(0.0),
      "dirty_pairs" -> (pairs max 0).toDouble,
      "dirty_overflow" -> (if (pairs < 0) 1.0 else 0.0))
  }

  // ---- the public calls, with their oracle checks -------------------

  private def execute(docs: Vector[OrderCust]): Unit = {
    val ds = client(spark.createDataset(docs))
    mutating(Op.Update)(ex.execute(ds))(_ => modeExtra())
    if (recording) docsSubmitted += docs.size
  }

  private def deleteDoc(id: String): Unit = {
    mutating(Op.Update)(ex.deleteDocuments(Seq(id)))(_ => modeExtra())
    if (recording) docsSubmitted += 1
  }

  /** A read call: planning plus collect are timed; the traced run counts
    * the files the plan scans afterwards. */
  private def read(kind: String)(plan: => DataFrame): Option[Array[Row]] = {
    var df: DataFrame = null
    call(kind) { df = plan; df.collect() }(_ => Map("files_scanned" -> df.inputFiles.length.toDouble))
  }

  private def query(ck: Long): Unit = {
    read(Op.Query)(ex.query(ck.toString).toDF()).foreach { rows =>
      client {
        val got = rows.toSeq.map(r => (r.getAs[Long]("cnt"), BigDecimal(r.getAs[java.math.BigDecimal]("total"))))
        val want = corpus.expect(ck).toSeq
        if (got.size != want.size || !got.zip(want).forall { case ((c, t), (wc, wt)) => c == wc && t == wt })
          fail(s"query($ck) = $got, expected $want")
      }
    }
  }

  private def checkRows(what: String, keys: Seq[Long], rows: Array[Row]): Unit = client {
    val got = rows.map(r => r.getAs[String]("reduce_key").toLong ->
      ((r.getAs[Long]("cnt"), BigDecimal(r.getAs[java.math.BigDecimal]("total"))))).toMap
    val bad = keys.distinct.filterNot { k =>
      got.get(k) == corpus.expect(k)
    }
    if (bad.nonEmpty || got.size != keys.distinct.count(corpus.expect(_).isDefined))
      fail(s"$what: mismatch on keys ${bad.take(5)}")
  }

  private def queryKeys(keys: Seq[Long]): Unit = {
    read(Op.Keys)(ex.queryKeys(keys.map(_.toString))).foreach(checkRows("queryKeys", keys, _))
  }

  private def pointQuery(ck: Long): Unit = {
    read(Op.Reader)(StoreReader.pointQuery(spark, store.toString, ck.toString))
      .foreach(checkRows("pointQuery", Seq(ck), _))
  }

  private def sync(): Unit = {
    call(Op.Cdc)(cdc.syncOnce()) { _ =>
      val h = cdc.health
      Map("churn_keys" -> (h.lastPollChurn max 0L).toDouble,
        "lag_after" -> h.lag.toDouble, "resyncs" -> h.resyncCount.toDouble)
    }
  }

  private def compact(): Unit =
    mutating(Op.Compact)(ex.compact())(_ => Map.empty)

  // ---- workloads ----------------------------------------------------

  /** trickle: a 1-doc write (18 of every 20 steps re-submit an order with
    * a new price, one deletes and one inserts, both inside the first ten
    * steps so warm-up runs each kind), a read-your-write `query` on its customer,
    * then a 16-key `queryKeys` and an external `pointQuery` on Zipf-chosen
    * customers; a CDC sync every 2nd step and `compact` every 12th (right
    * after a sync, so the consumer never falls behind the compaction
    * horizon). */
  private def trickleStep(i: Int, r: SplittableRandom): Unit = {
    val ck =
      if (i % 20 == 4) { val (id, ck) = client(corpus.deleteOne(r)); deleteDoc(id); ck }
      else {
        val doc = client(if (i % 20 == 7) corpus.batch(0, 1, r) else corpus.batch(1, 0, r))
        execute(doc); doc.head.o_custkey
      }
    query(ck)
    queryKeys(client(Vector.fill(16)(zipf.next(r))))
    pointQuery(client(zipf.next(r)))
    if (i % 2 == 1) sync()
    if (i % 12 == 11) compact()
  }

  /** bulk: a 5,000-doc batch (4,000 re-submissions, 1,000 inserts), more
    * dirty pairs than the default `driverDirtyLimit`; then 16 rounds of
    * reads of the touched customers, a CDC sync and `compact`. */
  private def bulkStep(r: SplittableRandom): Unit = {
    val docs = client(corpus.batch(bulkResub, bulkInserts, r))
    execute(docs)
    val touched = client(Vector.fill(32)(docs(r.nextInt(docs.size)).o_custkey))
    for (j <- 0 until 16) {
      query(touched(j))
      queryKeys(client(touched.slice(j, j + 16)))
      pointQuery(touched(j + 16))
    }
    sync()
    compact()
  }
  private def bulkResub = (4000 * a.scale / 0.1).toInt max 40
  private def bulkInserts = (1000 * a.scale / 0.1).toInt max 10

  private def step(i: Int, r: SplittableRandom): Unit = {
    curStep = i
    val o = if (tracer != null) tracer.open("step", i, "") else null
    if (a.workload == "bulk") bulkStep(r) else trickleStep(i, r)
    if (o != null) tracer.close(o, System.nanoTime())
  }

  /** Untimed warm-up: `n` steps of the workload, then a sync and a
    * compaction, so the timed phase starts from a compacted store. */
  private def warmUp(n: Int, r: SplittableRandom): Unit = {
    for (i <- 0 until n) step(i, r)
    sync(); compact()
  }

  // ---- set-up, phases, report ---------------------------------------

  private def build(path: String): Executer[OrderCust, CustOrders] = {
    val e = new Executer(OrdersByCust, path, PerfBench.cfg)
    e.execute(spark.createDataset(corpus.initial))
    e.compact()
    e
  }

  final case class Phase(wallS: Double, samples: Map[String, Seq[Double]],
      docs: Long, heapMb: Double, spaceAmp: Double, stats: Map[String, Long],
      diskFiles: Long, diskBytes: Long, stealShare: Double, busyShare: Double,
      stealByOp: Map[String, Double])

  private def phase(seedSalt: Long): Phase = {
    samples.clear(); jiffies.clear(); docsSubmitted = 0L; clientNs = 0L
    val r = new SplittableRandom(a.seed * 1000003L + seedSalt)
    recording = true
    val h0 = Host.cpu()
    val t0 = System.nanoTime()
    for (i <- 0 until a.steps) step(i, r)
    val wall = (System.nanoTime() - t0) / 1e9
    val h1 = Host.cpu()
    recording = false
    val heap = Jvm.liveHeapMb()
    val st = ex.storeStats()
    val files = listing()
    val (nf, nb) = (files.size.toLong, files.values.map(_._1).sum)
    Phase(wall, samples.map { case (k, v) => k -> v.toSeq }.toMap, docsSubmitted,
      heap, nb.toDouble / (st("map_bytes") + st("tree_bytes")), st, nf, nb,
      Host.stealShare(h0, h1), (h1.busy - h0.busy).toDouble / math.max(1L, h1.total - h0.total),
      jiffies.map { case (k, (st, busy)) => k -> Host.share(st, busy) }.toMap)
  }

  def run(): Boolean = {
    // Set-up: JVM start to the first timed call.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val tBuild = System.currentTimeMillis()
    ex = build(store.toString)
    val tBoot = System.currentTimeMillis()
    cdc = new CdcConsumer(ex, CustBands, down, PerfBench.bandCfg, strict = true)
    cdc.syncOnce()
    val tWarm = System.currentTimeMillis()
    warmUp(a.warmup, new SplittableRandom(a.seed * 7919L + 1))
    val tEnd = System.currentTimeMillis()
    val setupWallS = (tEnd - jvmStart) / 1000.0
    val setupSteal = Host.stealShare(hostAtStart, Host.cpu())
    val setupS = setupWallS * (1 - setupSteal)
    System.err.println(s"[perfbench] set-up ${setupWallS}s wall: session ${(tBuild - jvmStart) / 1000.0}s, " +
      s"build ${(tBoot - tBuild) / 1000.0}s, CDC bootstrap ${(tWarm - tBoot) / 1000.0}s, " +
      s"warm-up ${(tEnd - tWarm) / 1000.0}s")
    val resyncs0 = cdc.health.resyncCount

    val main = phase(1)
    var traced: Phase = null
    if (a.trace) {
      tracer = new Tracer(spark)
      traced = phase(2)
    }
    val tracedClient = clientNs
    finalChecks()

    val e2e = endToEnd(main, setupS)
    report(main, e2e, setupSteal)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e.collect { case (n, v, u, _) if PerfBench.gated(n) => (n, v, u) }
      else perLayer(traced, resyncs0, tracedClient) ++
        endToEnd(traced, setupS).zip(e2e).collect {
          case ((n, tv, u, _), (_, uv, _, _)) if PerfBench.gated(n) && n != "setup_s" =>
            (s"overhead.$n", tv - uv, u)
        }
    if (a.trace) tracer.write(a.workdir.resolve(s"trace-${a.workload}-${a.seed}.jsonl"))
    failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    val m = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
    failed == 0
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def finalChecks(): Unit = {
    attempted += 2
    val got = ex.queryAll().collect().map(r => r.getAs[String]("reduce_key").toLong ->
      ((r.getAs[Long]("cnt"), BigDecimal(r.getAs[java.math.BigDecimal]("total"))))).toMap
    val want = corpus.expectAll
    if (got != want) fail(s"queryAll: ${got.size} keys, expected ${want.size}; " +
      s"first diff ${want.find { case (k, v) => !got.get(k).contains(v) }}")
    cdc.syncOnce()
    val bands = got.values.groupBy { case (c, _) => CustBands.bandOf(c) }.map { case (b, vs) =>
      b -> ((vs.size.toLong, vs.map(_._1).sum, vs.map(_._2).sum)) }
    val downRows = cdc.executer.queryAll().collect().map(r => r.getAs[String]("reduce_key") ->
      ((r.getAs[Long]("ncust"), r.getAs[Long]("cnt"), BigDecimal(r.getAs[java.math.BigDecimal]("total"))))).toMap
    if (downRows != bands) fail(s"downstream bands $downRows, recomputed $bands")
  }

  private def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Every end-to-end metric of a phase with its sample count. A time is
    * scaled by the share of CPU the host did not steal over its calls:
    * those of its op kind, or the whole phase for docs_per_s. */
  private def endToEnd(p: Phase, setupS: Double): Seq[(String, Double, String, Int)] = {
    def q(k: String) = p.samples.getOrElse(k, Seq.empty)
    def at(k: String, v: Double) = v * (1 - p.stealByOp.getOrElse(k, 0.0))
    val updates = q(Op.Update).size
    Seq(
      ("setup_s", setupS, "s", 1),
      ("update_p50_ms", at(Op.Update, median(q(Op.Update))), "ms", updates),
      ("update_p95_ms", at(Op.Update, pct(q(Op.Update), 0.95)), "ms", updates),
      ("query_p50_ms", at(Op.Query, median(q(Op.Query))), "ms", q(Op.Query).size),
      ("query_p95_ms", at(Op.Query, pct(q(Op.Query), 0.95)), "ms", q(Op.Query).size),
      ("keys_p50_ms", at(Op.Keys, median(q(Op.Keys))), "ms", q(Op.Keys).size),
      ("reader_p50_ms", at(Op.Reader, median(q(Op.Reader))), "ms", q(Op.Reader).size),
      ("cdc_p50_ms", at(Op.Cdc, median(q(Op.Cdc))), "ms", q(Op.Cdc).size),
      ("docs_per_s", p.docs / ((1 - p.stealShare) * p.wallS), "docs/s", updates),
      ("space_amp", p.spaceAmp, "ratio", 1),
      ("heap_live_mb", p.heapMb, "MB", 1))
  }

  /** One line with every end-to-end metric, its unit and sample count,
    * and the host's steal shares the times were scaled by (a raw wall time
    * is the scaled value divided by 1 - share) and its busy share over the
    * timed phase. Each call's raw wall time goes to stderr. */
  private def report(p: Phase, e2e: Seq[(String, Double, String, Int)], setupSteal: Double): Unit = {
    p.samples.foreach { case (k, v) =>
      System.err.println(s"[perfbench] $k wall ms: ${v.map(x => f"$x%.0f").mkString(" ")}") }
    val byOp = p.stealByOp.map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString(", ")
    val ms = e2e.map { case (n, v, u, c) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u", "samples": $c}""" }
    println(s"""{"workload": "${a.workload}", "seed": ${a.seed}, "steps": ${a.steps}, """ +
      s""""wall_s": ${fmt(p.wallS)}, "docs": ${p.docs}, "host_steal_share": ${fmt(p.stealShare)}, """ +
      s""""host_busy_share": ${fmt(p.busyShare)}, "host_setup_steal_share": ${fmt(setupSteal)}, """ +
      s""""host_steal_share_by_op": {$byOp}, "end_to_end": {${ms.mkString(", ")}}}""")
  }

  private def perLayer(p: Phase, resyncs0: Long, clientNsTotal: Long): Seq[(String, Double, String)] = {
    val spans = tracer.spans.toSeq.filter(_.step >= 0)
    def of(k: String) = spans.filter(_.name == k)
    def sum(s: Seq[Span], key: String) = s.map(_.extra.getOrElse(key, 0.0)).sum
    /** Calls, busy time, Spark jobs/tasks/job time and GC of one layer. */
    def layer(prefix: String, s: Seq[Span]): Seq[(String, Double, String)] =
      Seq((s"$prefix.calls", s.size.toDouble, "count"),
        (s"$prefix.busy_ms", s.map(_.ms).sum, "ms"),
        (s"$prefix.spark_jobs", s.map(_.jobs).sum.toDouble, "count"),
        (s"$prefix.spark_tasks", s.map(_.tasks).sum.toDouble, "count"),
        (s"$prefix.spark_job_ms", s.map(_.jobMs).sum, "ms"),
        (s"$prefix.gc_ms", s.map(_.gcMs).sum.toDouble, "ms"))
    val up = of(Op.Update); val cp = of(Op.Compact); val cd = of(Op.Cdc)
    val ops = spans.filter(_.name != "step")
    val st = p.stats
    val lastCdc = cd.lastOption.map(_.extra).getOrElse(Map.empty)
    layer("execute", up) ++
    Seq(("execute.mode_delta", sum(up, "mode_delta"), "count"),
      ("execute.mode_delete", sum(up, "mode_delete"), "count"),
      ("execute.engine_jobs", sum(up, "engine_jobs"), "count"),
      ("execute.dirty_pairs", sum(up, "dirty_pairs"), "count"),
      ("execute.dirty_overflow", sum(up, "dirty_overflow"), "count"),
      ("execute.files_written", sum(up, "files_written"), "count"),
      ("execute.bytes_written", sum(up, "bytes_written"), "bytes")) ++
    Seq(Op.Query -> "query", Op.Keys -> "keys", Op.Reader -> "reader").flatMap { case (k, prefix) =>
      layer(prefix, of(k)) :+ ((s"$prefix.files_scanned", sum(of(k), "files_scanned"), "count"))
    } ++
    layer("compact", cp) ++
    Seq(("compact.files_before", sum(cp, "files_before"), "count"),
      ("compact.files_after", sum(cp, "files_after"), "count"),
      ("compact.retired_reclaimed", sum(cp, "retired_before") - sum(cp, "retired_after"), "count")) ++
    layer("cdc", cd) ++
    Seq(("cdc.churn_keys", sum(cd, "churn_keys"), "count"),
      ("cdc.lag_after", lastCdc.getOrElse("lag_after", 0.0), "count"),
      ("cdc.resyncs", lastCdc.getOrElse("resyncs", resyncs0.toDouble) - resyncs0, "count")) ++
    Seq(("spark.jobs", ops.map(_.jobs).sum.toDouble, "count"),
      ("spark.tasks", ops.map(_.tasks).sum.toDouble, "count"),
      ("spark.job_ms", ops.map(_.jobMs).sum, "ms"),
      ("spark.driver_ms", ops.map(s => s.ms - s.coveredMs).sum, "ms"),
      ("jvm.gc_ms", ops.map(_.gcMs).sum.toDouble, "ms"),
      ("jvm.gc_count", ops.map(_.gcCount).sum.toDouble, "count"),
      ("store.map_files", st("map_files").toDouble, "count"),
      ("store.tree_files", st("tree_files").toDouble, "count"),
      ("store.retired_files", st("retired_files").toDouble, "count"),
      ("store.tombstones", st("tombstones").toDouble, "count"),
      ("store.live_bytes", (st("map_bytes") + st("tree_bytes")).toDouble, "bytes"),
      ("store.disk_files", p.diskFiles.toDouble, "count"),
      ("store.disk_bytes", p.diskBytes.toDouble, "bytes"),
      // Bytes of store files written per byte of submitted documents
      // (three 8-byte fields each).
      ("store.write_amp", (sum(up, "bytes_written") + sum(cp, "bytes_written")) / (p.docs * 24.0), "ratio"),
      ("store.space_amp", p.spaceAmp, "ratio"),
      ("host.steal_share", p.stealShare, "ratio"),
      ("host.busy_share", p.busyShare, "ratio"),
      ("bench.client_ms", clientNsTotal / 1e6, "ms"),
      ("bench.step_ms", of("step").map(_.ms).sum, "ms"))
  }
}
