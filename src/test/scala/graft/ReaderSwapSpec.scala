package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Executer, ExecuterConfig}

/** Concurrent-reader isolation during partition swaps (VERDICT r5
  * "What's missing #2"): a reader scanning the store while maintenance
  * rewrites final partitions must NEVER observe a silently-missing
  * partition or a torn generation, and — since reads resolve a published
  * manifest's immutable file list — never even a retriable error.
  *
  * The reader runs on a SEPARATE SparkSession (shared context, own SQL
  * state — the in-JVM stand-in for a second reader process; nothing
  * writer-side is shared with it except the store directory) and a
  * separate Executer instance, continuously reading while the writer
  * churns updates that move documents between reduce keys. Moves
  * conserve the total count, so any torn read is detectable as a
  * wrong total.
  */
class ReaderSwapSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  /** Runs the churn scenario; returns (goodReads, retriableErrors). Any
    * torn read fails the calling test immediately. */
  private def churn(store: String, cfg: ExecuterConfig): (Int, Int) = {
    val N = 240
    val ex = new Executer(PeopleCountByState, store, cfg)
    def person(i: Int, flip: Boolean): Person = {
      val st = if ((i % 2 == 0) ^ flip) "CA" else "TX"
      Person(s"p-$i", st)
    }
    ex.execute(spark.createDataset((1 to N).map(person(_, flip = false))))

    val readerSpark = spark.newSession()
    val readerEx =
      new Executer(PeopleCountByState, store, cfg)(implicitly, readerSpark)
    val stop = new AtomicBoolean(false)
    val goodReads = new AtomicInteger(0)
    val retriable = new AtomicInteger(0)
    @volatile var torn: Option[String] = None
    @volatile var firstError: Option[String] = None
    val reader = new Thread(() => {
      while (!stop.get() && torn.isEmpty) {
        try {
          val rows = readerEx.queryAll()
            .select("reduce_key", "count").collect()
          val total = rows.map(_.getLong(1)).sum
          if (total != N)
            torn = Some(s"read total $total != $N " +
              s"(${rows.map(r => r.getString(0) + "=" + r.getLong(1)).mkString(",")})")
          else goodReads.incrementAndGet()
        } catch {
          // A swap after this read's listing renamed its files away:
          // retriable by contract, never silent.
          case e: Throwable =>
            retriable.incrementAndGet()
            if (firstError.isEmpty)
              firstError = Some(s"${e.getClass.getName}: ${e.getMessage}")
        }
      }
    }, "swap-spec-reader")
    reader.start()

    // 12 churn batches, alternating the state of a 60-doc slice: every
    // batch dirties BOTH final partitions, so each swap renames every
    // directory the reader scans.
    try {
      for (round <- 1 to 12) {
        val flip = round % 2 == 1
        val batch = (1 to 60).map(i => person(i * 4 % N + 1, flip))
          .distinctBy(_.id)
        ex.execute(spark.createDataset(batch))
        // A short quiescent window per round: the reader's consistent
        // path needs SOME even-epoch daylight to complete reads in —
        // back-to-back batches on a throttled host could otherwise
        // starve it into the (legitimate) degraded path and flake the
        // goodReads assertion.
        Thread.sleep(150)
      }
    } finally {
      stop.set(true)
      reader.join(30000)
    }
    assert(torn.isEmpty, s"torn read observed: ${torn.getOrElse("")}")
    assert(goodReads.get() > 0, "reader never completed a successful read")
    // The final state must also be exactly the last churn outcome.
    val last = ex.queryAll().select("reduce_key", "count").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(last.values.sum === N)
    firstError.foreach(e => info(s"first reader error: $e"))
    (goodReads.get(), retriable.get())
  }

  test("manifest store: reader sees ZERO retriable errors during churn") {
    // SURVEY §14: snapshot reads resolve the published manifest's
    // immutable file list — a swap landing mid-read cannot rename the
    // reader's files away (they are retired, not moved), so the residual
    // retriable-error class of the seqlock protocol disappears entirely.
    val (_, retriable) = churn(TestTmp.dir("graft-readerswap"),
      ExecuterConfig(fanIn = 4, finalParts = 2))
    assert(retriable == 0,
      s"manifest reads must never need a retry, got $retriable")
  }

}
