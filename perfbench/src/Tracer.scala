package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts every Spark job and task the session runs, with each job's
  * wall-clock interval (listener event times, epoch millis). */
final class JobListener extends SparkListener {
  final case class Job(startMs: Long, endMs: Long, tasks: Long)
  private val starts = mutable.LongMap.empty[Long]
  private val tasks = mutable.LongMap.empty[Long]
  private val stageJob = mutable.LongMap.empty[Long]
  val done: mutable.ArrayBuffer[Job] = mutable.ArrayBuffer.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId.toLong) = e.time
    tasks(e.jobId.toLong) = 0L
    e.stageIds.foreach(s => stageJob(s.toLong) = e.jobId.toLong)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId.toLong).foreach(j => tasks(j) = tasks.getOrElse(j, 0L) + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val id = e.jobId.toLong
    done += Job(starts.remove(id).getOrElse(e.time), e.time, tasks.remove(id).getOrElse(0L))
  }
  def snapshot: Int = synchronized(done.size)
  def since(i: Int): Seq[Job] = synchronized(done.slice(i, done.size).toSeq)
}

object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMs: Long = gcs.map(_.getCollectionTime).sum
  def gcCount: Long = gcs.map(_.getCollectionCount).sum

  /** Live heap in MB: the least heap in use over three full collections,
    * each after a pause that lets Spark's cleaner drop what the previous
    * one unreferenced. */
  def liveHeapMb(): Double = (0 until 3).map { _ =>
    System.gc(); Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}

/** One traced call: a step span (parent = "") or a public call inside a
  * step (parent = the step span). The step number is the trace id. */
final case class Span(name: String, step: Int, parent: String,
    startNs: Long, endNs: Long, jobs: Int, tasks: Long, jobMs: Double,
    coveredMs: Double, gcMs: Long, gcCount: Long,
    extra: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A span that has started: the counters at its start. */
final case class OpenSpan(name: String, step: Int, parent: String, job0: Int,
    gc0: Long, gcn0: Long, wall0: Long, t0: Long)

/** Spans and per-call counters of the traced run, kept in memory and
  * written out when the run ends. */
final class Tracer(spark: SparkSession) {
  val listener = new JobListener
  spark.sparkContext.addSparkListener(listener)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def open(name: String, step: Int, parent: String): OpenSpan = {
    PerfBenchBridge.drainListeners(spark.sparkContext)
    OpenSpan(name, step, parent, listener.snapshot, Jvm.gcMs, Jvm.gcCount,
      System.currentTimeMillis(), System.nanoTime())
  }

  /** Adds counters taken after the last span closed to that span. */
  def annotate(extra: Map[String, Double]): Unit =
    spans(spans.size - 1) = spans.last.copy(extra = spans.last.extra ++ extra)

  /** Closes a span at `t1` (taken right after the call returned); the
    * listener bus is drained after the timestamp, so the wait is not in
    * the span. */
  def close(o: OpenSpan, t1: Long): Unit = {
    val wall1 = System.currentTimeMillis()
    val gc1 = Jvm.gcMs; val gcn1 = Jvm.gcCount
    PerfBenchBridge.drainListeners(spark.sparkContext)
    val jobs = listener.since(o.job0)
    spans += Span(o.name, o.step, o.parent, o.t0, t1, jobs.size,
      jobs.map(_.tasks).sum, jobs.map(j => (j.endMs - j.startMs).toDouble).sum,
      covered(jobs.map(j => (j.startMs max o.wall0, j.endMs min wall1))),
      gc1 - o.gc0, gcn1 - o.gcn0, Map.empty)
  }

  /** Length of the union of intervals, in millis. */
  private def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = curE max b
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map { s =>
      val ex = s.extra.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"name":"${s.name}","step":${s.step},"parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.jobs},""" +
        s""""tasks":${s.tasks},"job_ms":${s.jobMs},"covered_ms":${s.coveredMs},""" +
        s""""gc_ms":${s.gcMs},"gc_count":${s.gcCount},"extra":{$ex}}"""
    }
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}
