package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality assertions — the scale story made testable: broadcasts on
  * bounded dimensions, column pruning and filter pushdown reaching the
  * parquet scan, whole-stage codegen on the hot relational paths. These
  * run against the real sf0.001 data through the public query surface.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  /** Collect over the physical plan tree, descending through AQE
    * wrapper nodes (`AdaptiveSparkPlanExec` is a leaf whose real plan
    * hangs off `executedPlan`) — tree matching instead of plan-string
    * substrings, which drift across Spark versions. */
  private def collectPlan[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    p.collect(pf) ++ p.collect { case a: AdaptiveSparkPlanExec => a }
      .flatMap(a => collectPlan(a.executedPlan)(pf))

  test("broadcast joins on bounded dimensions") {
    assert(plan("q04_join_broadcast").contains("BroadcastHashJoin"))
    assert(plan("q05_join_multiway").contains("BroadcastHashJoin"))
    // Bands dimension: broadcast nested loop for the non-equi join.
    assert(plan("q34_range_join").contains("BroadcastNestedLoopJoin"))
  }

  test("column pruning reaches the lineitem scan") {
    val p = plan("q01_pricing_summary")
    // Only the 5 needed columns of 11 should be read.
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag"))
    assert(!readSchema.contains("l_shipdate"), s"unpruned scan: $readSchema")
  }

  test("filter pushdown reaches the parquet scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity"),
      s"no pushed filter in: ${p.take(2000)}")
  }

  test("whole-stage codegen spans the aggregation path") {
    // Codegen'd operators carry the `*(stageId)` prefix — visible only in
    // the FINAL adaptive plan, so execute first.
    val df = SparkEntry.queries("q01_pricing_summary")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(") && p.contains("HashAggregate"), p.take(1500))
  }

  test("semi/anti joins plan as joins, not subquery re-scans") {
    assert(plan("q06_semi_join").contains("LeftSemi"))
    assert(plan("q07_anti_join").contains("LeftAnti"))
  }

  test("similarity candidate generation is an equi-join, never cartesian") {
    // The scale claim of the dedup/ANN family: candidates come from
    // joins on LSH signatures/cells; only q30 (the labeled brute-force
    // baseline) may contain a cartesian product.
    val p27 = plan("q27_lsh_candidate_pairs")
    assert(!p27.contains("CartesianProduct"), p27.take(1500))
    val p36 = plan("q36_ann_ivf_probe")
    assert(!p36.contains("CartesianProduct") &&
      !p36.contains("BroadcastNestedLoop"), p36.take(1500))
  }

  test("q30 brute-force broadcasts the bounded query side") {
    // Exact top-k with Q=8 queries is O(Q·N) when the query side
    // broadcasts: the corpus side must stream with no shuffle into the
    // join (the window's rank shuffle afterwards is per-query-id).
    val p = plan("q30_knn_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("round-3 query plans: top-k short-circuit, shared window shuffles") {
    // q48's global top-50 must plan as TakeOrderedAndProject (per-
    // partition heaps + merge), never a full global sort of the vocab.
    assert(plan("q48_vocab_df").contains("TakeOrderedAndProject"),
      plan("q48_vocab_df").take(800))
    // q63's RANGE-frame window needs exactly one shuffle (by suppkey).
    val p63 = plan("q63_moving_window")
    val ex63 = p63.linesIterator.count(_.contains("Exchange"))
    assert(ex63 == 1, s"expected 1 exchange in q63, got $ex63:\n${p63.take(1200)}")
    // q61's two window passes (lag + running sum) share ONE user_id
    // shuffle; only the final (user_id, sess_no) rollup may add one.
    val p61 = plan("q61_sessionization")
    val ex61 = p61.linesIterator.count(_.contains("Exchange"))
    assert(ex61 <= 2, s"expected <=2 exchanges in q61, got $ex61:\n${p61.take(1200)}")
  }

  test("curation query plans: broadcast decontamination probe, per-shard packing") {
    // q66: the eval-slice shingle set is the bounded side — it must
    // BROADCAST so the (100 TB) training side streams through the probe
    // with no shuffle; a sort-merge or cartesian here would shuffle the
    // whole corpus's shingle table.
    val p66 = plan("q66_decontaminate")
    assert(p66.contains("BroadcastHashJoin"), p66.take(1200))
    assert(!p66.contains("CartesianProduct"), p66.take(1200))
    // q68: the packing cumsum is a window PER SOURCE SHARD; its shuffle
    // (by source) also satisfies the (source, seq_bin) rollup, so the
    // whole plan needs exactly one exchange — a global-sort packing
    // would show a rangepartitioning exchange instead.
    val p68 = plan("q68_pack_sequences")
    val ex68 = p68.linesIterator.count(_.contains("Exchange"))
    assert(ex68 <= 2, s"expected <=2 exchanges in q68, got $ex68:\n${p68.take(1200)}")
    assert(!p68.contains("rangepartitioning"), p68.take(1200))
  }

  test("index point query prunes to one reduce-tree partition") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val store = TestTmp.dir("graft-planspec")
    // singleOutput: diffSince (exercised below) requires the one-row-
    // per-key contract; the read-path pruning under test is identical
    // for both task shapes.
    val ex = new graft.core.Executer(PeopleCountSingle, store)
    ex.execute(spark.createDataset(Seq(
      Person("a", "CA"), Person("b", "CA"), Person("c", "TX"))))
    // The driver read opens only the key's fpart; the Spark plan it
    // falls back to past the gate scans only that fpart's files.
    def dirOf(f: String): String = {
      val p = new org.apache.hadoop.fs.Path(f)
      p.getParent.getParent.getName + "/" + p.getParent.getName
    }
    def opened(snap: graft.core.StoreSnapshot, keys: Seq[String]) =
      snap.keysRead(keys).opened.get.map(f => dirOf(f.toString)).toSet
    def planned(snap: graft.core.StoreSnapshot, keys: Seq[String]) =
      snap.keysPlan(keys).inputFiles.map(dirOf).toSet
    def fparts(keys: Seq[String]) = keys.map(k =>
      s"level=2/part=${graft.core.Executer.fpartHash(k, 64)}").toSet
    val head = ex.snapshotAt(-1L)
    assert(opened(head, Seq("CA")) == fparts(Seq("CA")),
      s"point query opened ${opened(head, Seq("CA"))}")
    assert(planned(head, Seq("CA")) == fparts(Seq("CA")),
      s"point query plan scans ${planned(head, Seq("CA"))}")

    // Reverse provenance prunes map_results to the doc's single parent
    // partition (parent is a pure function of the doc id).
    val p2 = ex.contributionsOf("b").queryExecution.executedPlan.toString
    val pf2 = p2.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf2.contains("parent"),
      s"contributionsOf does not partition-prune map_results: $pf2")
    assert(ex.contributionsOf("b").select("reduce_key").collect()
      .map(_.getString(0)).toSeq == Seq("CA"))

    // Multi-key read opens at most the keys' fparts; its fallback plan
    // scans only their files, never a full final-table scan.
    val qk = ex.queryKeys(Seq("CA", "TX"))
    val fp = fparts(Seq("CA", "TX"))
    assert(opened(head, Seq("CA", "TX")).subsetOf(fp),
      s"queryKeys opened ${opened(head, Seq("CA", "TX"))}, wanted within $fp")
    assert(planned(head, Seq("CA", "TX")).subsetOf(fp),
      s"queryKeys plan scans ${planned(head, Seq("CA", "TX"))}, wanted within $fp")
    assert(qk.collect().map(r => (r.getString(0), r.getLong(2))).toSet ==
      Set(("CA", 2L), ("TX", 1L)))
    // Absent keys contribute no rows; empty key set returns empty.
    assert(ex.queryKeys(Seq("CA", "ZZ")).count() == 1L)
    assert(ex.queryKeys(Nil).count() == 0L)

    // The before/after change feed reads BOTH sides with these key
    // reads, at `v` and at the head: each opens (and its fallback plan
    // scans) only the changed keys' fparts — a diff poll reads O(churn)
    // partitions, never a full final-table scan on either side.
    val v = ex.snapshotVersion()
    ex.execute(spark.createDataset(Seq(Person("c", "NV"))))
    val diff = ex.diffSince(v)
    val changed = Seq("TX", "NV")
    for (snap <- Seq(ex.snapshotAt(v), ex.snapshotAt(-1L))) {
      assert(opened(snap, changed).subsetOf(fparts(changed)),
        s"diffSince side at ${snap.version} opened ${opened(snap, changed)}")
      assert(planned(snap, changed).subsetOf(fparts(changed)),
        s"diffSince side at ${snap.version} plans ${planned(snap, changed)}")
    }
    assert(diff.select($"reduce_key", $"change_type").as[(String, String)]
      .collect().toSet == Set(("TX", "delete"), ("NV", "insert")))
  }

  test("decontamination broadcasts the eval side; the corpus side never shuffles pre-join") {
    val p = plan("q66_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingle set should broadcast:\n${p.take(1200)}")
  }

  test("sequence packing stays strata-parallel: window and aggregate, no global sort") {
    // A global ordered cumsum would plan a global Sort (range-partitioned
    // exchange feeding `SortExec(global = true)`); the window's sort must
    // stay partition-local. Assert on the plan TREE, not its string form.
    val p = SparkEntry.queries("q68_pack_sequences")(spark, dir)
      .queryExecution.executedPlan
    val globalSorts = collectPlan(p) { case s: SortExec if s.global => s }
    assert(globalSorts.isEmpty,
      s"unexpected global sort: ${globalSorts.map(_.verboseString(2)).mkString("; ")}")
    val exchanges = collectPlan(p) { case e: ShuffleExchangeLike => e }
    assert(exchanges.size <= 3, s"too many exchanges (${exchanges.size}):\n${p.toString.take(1500)}")
  }

  test("round-5 plans: maintained probe list broadcasts; PII scrub never shuffles") {
    // q78: the maintained eval-shingle state is the bounded side of the
    // decontamination join — it must broadcast so the training-side
    // shingle stream (the 100 TB leg) is never shuffled.
    val p78 = plan("q78_decontaminate_index_update")
    assert(p78.contains("BroadcastHashJoin"), p78.take(1200))
    // q79: regex scrub is pure per-row work before the final count's
    // aggregation — the scan→project stage must contain no exchange
    // other than the output aggregation... in fact the query has no
    // aggregation at all, so ZERO exchanges.
    val p79 = SparkEntry.queries("q79_pii_scrub")(spark, dir)
      .queryExecution.executedPlan
    assert(collectPlan(p79) { case e: ShuffleExchangeLike => e }.isEmpty,
      s"PII scrub should be shuffle-free:\n${p79.toString.take(1200)}")
  }

  test("round-5 curation plans: bounded vocab broadcasts, span scrub joins on hash") {
    // q85: the top-10 vocabulary is bounded by construction — the
    // scoring join must BROADCAST it so the token stream (the 100 TB
    // leg) is never shuffled for the join; its only shuffles are the
    // vocab aggregation and the final per-doc rollup.
    val p85 = plan("q85_oov_rate")
    assert(p85.contains("BroadcastHashJoin"), p85.take(1200))
    // q82/q83/q84: frequency join-back must be an equi-join on the
    // fixed-width hash, never a cartesian/nested-loop explosion.
    for (q <- Seq("q82_span_scrub", "q83_bigram_fluency",
        "q84_source_quality_filter", "q87_curation_funnel")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q candidate join degenerated:\n${p.take(1200)}")
    }
  }

  test("match-pair families stay equi-joins; quality rank short-circuits top-k") {
    // q94 (winnow matches) and q95 (simhash pairs): candidates must come
    // from the fingerprint/chunk equi-join — never a nested-loop.
    for (q <- Seq("q94_winnow_matches", "q95_simhash_pairs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q candidate join degenerated:\n${p.take(1200)}")
    }
    // q96's top-50 must plan as TakeOrderedAndProject (per-partition
    // heaps + merge), never a global sort of the scored corpus.
    assert(plan("q96_quality_rank").contains("TakeOrderedAndProject"),
      plan("q96_quality_rank").take(800))
  }

  test("fuzzy decontamination broadcasts the banded eval side") {
    // q86: the eval slice's banded signature table is the bounded side —
    // it must broadcast so the training side's signatures are never
    // shuffled for candidate generation (the 100 TB leg), and the
    // candidate join must stay an equi-join on (band, bh).
    val p = plan("q86_fuzzy_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("the full-outer join keeps both aggregates partial-agg'd map-side") {
    val p = plan("q74_outer_join")
    assert(p.contains("FullOuter"), s"expected a full-outer join:\n${p.take(1200)}")
    assert(p.contains("partial_count"), "aggregates should combine map-side")
  }

  test("span removal and semantic dedup never degenerate past their equi-joins") {
    // q100: the only joins are the gram-hash frequency join and the
    // island grouping — a nested-loop or cartesian anywhere means the
    // span merge regressed to a pair scan.
    val p100 = plan("q100_dup_span_removal")
    assert(!p100.contains("CartesianProduct") &&
      !p100.contains("BroadcastNestedLoop"),
      s"q100 degenerated:\n${p100.take(1200)}")
    // q101: candidates come from the in-cell self-join (equi on cell);
    // the frequency-bounded centroid table joins by cell too. The pair
    // predicate (cos > τ) must NOT turn either join into a nested-loop.
    val p101 = plan("q101_semantic_dedup")
    assert(!p101.contains("CartesianProduct") &&
      !p101.contains("BroadcastNestedLoop"),
      s"q101 degenerated:\n${p101.take(1200)}")
  }

  test("chunking is a zero-shuffle narrow transform; chunk dedup is one " +
      "distinct-agg chain") {
    // q109: split → posexplode → slice/md5 is a per-row pipeline — any
    // exchange here would shuffle the whole corpus for nothing.
    val c = SparkEntry.queries("q109_chunk_overlap")(spark, dir)
    c.collect()
    assert(collectPlan(c.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s
    }.isEmpty, "the chunk table must not shuffle")
    // …and the scan reads only the two needed document columns.
    val rs = c.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("text") && !rs.contains("lang"), s"unpruned scan: $rs")

    // q110: COUNT(DISTINCT doc_id) plans as the two-phase distinct
    // aggregation — at most its two exchanges, no join of any kind.
    val d = SparkEntry.queries("q110_chunk_dedup")(spark, dir)
    d.collect()
    val pd = d.queryExecution.executedPlan
    assert(collectPlan(pd) { case s: ShuffleExchangeLike => s }.size <= 2,
      s"chunk dedup over-shuffles:\n${pd.toString.take(1200)}")
    val ps = pd.toString
    assert(ps.contains("HashAggregate") && !ps.contains("Join"),
      s"chunk dedup must be a pure aggregation:\n${ps.take(1200)}")

    // q113: the tokenizer-true budget keeps the chunk table's shape —
    // the BPE kernel is a per-row scalar, so the whole query is still a
    // zero-shuffle scan pipeline.
    val b = SparkEntry.queries("q113_chunk_bpe_budget")(spark, dir)
    b.collect()
    assert(collectPlan(b.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s
    }.isEmpty, "the BPE chunk budget must not shuffle")
  }

  test("q114 external read plans at most the requested keys' partitions") {
    // Two keys, two pinned generations: the engine-free keysQuery must
    // put at most |keys| distinct fparts of the final table into each
    // generation's file list (VERDICT r14 #3) — at any store size the
    // plan reads ≤ |keys|/finalParts of the finals, never a full scan.
    val df = SparkEntry.queries("q114_external_read")(spark, dir)
    assert(df.count() > 0)
    val (ex, v) = graft.ops.IndexQueries.ordersByPriorityUpdated(spark, dir)
    val keys = Seq("1-URGENT", "3-MEDIUM")
    def parts(files: Seq[String]): Set[String] = files.map(f =>
      f.split("/").find(_.startsWith("part=")).getOrElse("?")).toSet
    for (gen <- Seq(-1L, v)) {
      val snap = graft.sources.StoreReader.snapshot(spark, ex.storePath, gen).get
      val opened = parts(snap.keysRead(keys).opened.get.map(_.toString))
      assert(opened.nonEmpty && opened.size <= 2,
        s"q114 at $gen opened partitions $opened; wanted <=2 (two keys)")
      val planned = parts(snap.keysPlan(keys).inputFiles.toSeq)
      assert(planned.nonEmpty && planned.size <= 2,
        s"q114 fallback at $gen plans partitions $planned; wanted <=2")
    }
  }
}
