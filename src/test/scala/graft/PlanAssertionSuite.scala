package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape assertions (reference pattern:
  * checkSparkAnswerAndOperator + CometPlanStabilitySuite): the 100 TB
  * story lives in the physical plan, so pin it — filters pushed to the
  * scan, columns pruned, the right join algorithm, and no cartesian
  * products hiding in the LLM-pipeline operators.
  */
class PlanAssertionSuite extends GraftTestBase {

  private def planString(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def run(name: String): DataFrame =
    Catalog.validated.find(_.name == name).get.run(spark, sfDir)

  /** Every node of the executed plan, descending into AQE's final plan
    * and its query stages. */
  private def nodesOf(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] =
    nodesUnder(df.queryExecution.executedPlan)

  /** `n` and every node below it, through AQE wrappers and stages. */
  private def nodesUnder(
      n: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    n match {
      case a: AdaptiveSparkPlanExec => nodesUnder(a.executedPlan)
      case q: QueryStageExec => nodesUnder(q.plan)
      case other => other +: other.children.flatMap(nodesUnder)
    }
  }

  /** Pin for the inner and existence broadcast joins, which stay on
    * Spark's BHJ: the join node is Spark's, a columnar filter feeds it,
    * no graft broadcast probe other than semi/anti plans, and the final
    * aggregate above the shuffle runs columnar. The partial aggregate
    * over the join's rows stays on Spark's fused codegen (no decimal
    * money lane to pay for RowToColumnar). */
  private def assertSparkBhjOverColumnarFilter(name: String): Unit = {
    val df = run(name)
    df.collect()
    val nodes = nodesOf(df)
    val plan = df.queryExecution.executedPlan
    val bhjs = nodes.collect { case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
    assert(bhjs.nonEmpty, s"$name: expected Spark's BroadcastHashJoinExec in:\n$plan")
    assert(bhjs.exists(j => nodesUnder(j).exists(
      _.isInstanceOf[org.apache.spark.sql.graft.GraftColumnarFilterExec])),
      s"$name: expected a GraftColumnarFilter below the broadcast join in:\n$plan")
    assert(!nodes.exists(n => n.nodeName.startsWith("GraftColumnarBHJ") ||
      n.nodeName.startsWith("GraftColumnarExistenceBHJ")),
      s"$name: no graft inner/existence broadcast probe may plan:\n$plan")
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.graft.GraftColumnarFinalAggExec]),
      s"$name: expected the columnar final agg above the shuffle in:\n$plan")
  }

  /** Pin of the presentation sort's materialization: exactly one
    * GraftMaterializeOnceExec, directly under the range exchange, with a
    * node matching `below` somewhere under it (the query body it stores
    * once). */
  private def assertMaterializedOnce(df: DataFrame, what: String)(
      below: org.apache.spark.sql.execution.SparkPlan => Boolean): Unit = {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = df.queryExecution.executedPlan
    val nodes = nodesOf(df)
    val stored = nodes.collect {
      case m: org.apache.spark.sql.execution.graft.GraftMaterializeOnceExec => m
    }
    assert(stored.size == 1, s"expected exactly one GraftMaterializeOnce in:\n$plan")
    assert(nodes.exists {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning.isInstanceOf[RangePartitioning] && (e.child eq stored.head)
      case _ => false
    }, s"the GraftMaterializeOnce must sit directly under the range exchange:\n$plan")
    assert(nodesUnder(stored.head).exists(below),
      s"expected $what below the GraftMaterializeOnce in:\n$plan")
  }

  /** The window chain a presentation sort sits above. */
  private def isWindow(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
    n.nodeName.contains("Window")

  test("q64 plans a SortMergeJoin") {
    assert(planString(run("q64_sort_merge_join")).contains("SortMergeJoin"))
  }

  test("q03 broadcasts the filtered dimension") {
    assert(planString(run("q03_join_agg_topk")).contains("BroadcastHashJoin"))
  }

  test("q01 pushes the shipdate filter into the parquet scan") {
    val p = planString(run("q01_tpch_q1"))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"expected pushed l_shipdate filter in:\n$p")
  }

  test("q11 scan prunes to the three projected columns") {
    val p = planString(run("q11_topk"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("p_partkey", "p_name", "p_retailprice").forall(readSchema.contains)
      && !readSchema.contains("p_type"),
      s"expected pruned ReadSchema, got: $readSchema")
  }

  test("q10 top-k plans a bounded top-k (no full global sort); OFFSET rides columnar") {
    val p = planString(run("q10_sort_limit_offset"))
    // OFFSET now rides the columnar probe (limit = fetch+offset, skip at
    // the sorted emit) instead of forcing the row TakeOrderedAndProject
    assert(p.contains("GraftColumnarTopK"),
      s"expected the columnar top-k despite OFFSET:\n$p")
    assert(!p.contains("TakeOrderedAndProject"), s"row top-k must be swapped out:\n$p")
  }

  test("dedup and similarity queries never plan a cartesian product") {
    // (q145's only nested-loop is the broadcast of K=16 centroids — the
    // within-cluster pair join itself is a cid equi-join)
    Seq("q46_dedup_ngram_jaccard", "q47_dedup_minhash_lsh",
        "q49_embedding_neardup", "q51_ann_lsh_bucketed", "q145_semdedup").foreach { name =>
      val p = planString(run(name))
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
    }
  }

  test("brute-force ANN uses broadcast (not cartesian) for the probe set") {
    val p = planString(run("q50_ann_bruteforce_topk"))
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q75 plans through the custom GraftTopKExec operator") {
    val p = planString(run("q75_custom_topk_operator"))
    assert(p.contains("GraftTopK"), s"expected GraftTopKExec in plan:\n$p")
  }

  test("q72 scan carries a partition filter (pruned directories)") {
    val p = planString(run("q72_partition_pruning"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_orderstatus"), s"expected o_orderstatus partition filter, got: $pf")
  }

  test("q77 scan carries a runtime dynamicpruning partition filter") {
    val p = planString(run("q77_dynamic_partition_pruning"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("dynamicpruning"),
      s"expected dynamicpruning subquery in PartitionFilters, got: $pf\nfull plan:\n$p")
  }

  test("q78 plans a RangePartitioning exchange") {
    val p = planString(run("q78_range_repartition"))
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"expected a range exchange in:\n$p")
  }

  test("q76 builds the bloom via ObjectHashAggregate and prefilters the probe") {
    val df = run("q76_bloom_filter_join")
    df.collect()
    val p = planString(df)
    assert(p.contains("might_contain"), s"expected might_contain prefilter in:\n$p")
    assert(p.contains("bloom_filter_agg") && p.contains("ObjectHashAggregate"),
      s"expected the bloom sketch built by ObjectHashAggregate in:\n$p")
    assert(p.contains("partial_bloom_filter_agg"),
      s"expected partial (pre-shuffle) bloom aggregation in:\n$p")
  }

  test("q81 executes its projection on ColumnarBatch via GraftColumnarSelect") {
    // Columnar rules apply inside AQE query stages, so materialize first
    // and read the final plan.
    val df = run("q81_columnar_select")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarSelect"),
      s"expected the columnar operator swap in:\n$p")
    assert(p.contains("ColumnarToRow"),
      s"expected a ColumnarToRow transition above the columnar operator:\n$p")
  }

  test("q82 as-of join plans as union+window — no join operator, no cartesian") {
    val p = planString(run("q82_asof_join"))
    assert(p.contains("Window"), s"expected windowed LOCF in:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"as-of must not plan a join operator:\n$p")
  }

  test("q83 banded range join is an equi-join, never a cartesian") {
    val p = planString(run("q83_range_join_banded"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"range join must stay an equi-join:\n$p")
  }

  test("q01 aggregates partially before the shuffle (two HashAggregate stages)") {
    val p = planString(run("q01_tpch_q1"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final agg:\n$p")
  }

  test("q17/q18 run their rollup/cube Expand on ColumnarBatch") {
    // the aggregation above stays row (decimal sum — tagged fallback);
    // the Expand fan-out itself is the columnar kernel
    Seq("q17_rollup", "q18_cube").foreach { name =>
      val df = run(name)
      df.collect()
      val p = planString(df)
      assert(p.contains("GraftColumnarExpand"),
        s"$name: expected the columnar Expand swap in:\n$p")
    }
  }

  test("q143 runs its decimal money arithmetic on ColumnarBatch") {
    val df = run("q143_decimal_money")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarProject"),
      s"q143: expected the Decimal64 kernels in a columnar project in:\n$p")
    // no project-level fallback: the decimal tree compiled
    val fallback = df.queryExecution.executedPlan.collect {
      case pr: org.apache.spark.sql.execution.ProjectExec
          if pr.getTagValue(org.apache.spark.sql.graft.GraftColumnarRule.fallbackReasonTag)
            .isDefined => pr
    }
    assert(fallback.isEmpty, s"q143: decimal project fell back:\n$p")
  }

  test("q144 probes both existence joins on ColumnarBatch") {
    val df = run("q144_columnar_semi_anti")
    df.collect()
    val p = planString(df)
    assert("GraftColumnarSemiBHJ".r.findAllIn(p).size >= 2,
      s"q144: expected BOTH semi and anti columnar probes in:\n$p")
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"q144: expected the grouped partial agg to stay columnar above the probes in:\n$p")
  }

  test("q154 existence join runs on Spark's BHJ over the columnar filter") {
    assertSparkBhjOverColumnarFilter("q154_columnar_existence_join")
  }

  test("q155 runs filter AND top-k on ColumnarBatch — no row TakeOrderedAndProject") {
    val df = run("q155_columnar_topk")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarTopK"),
      s"q155: expected the columnar top-k swap in:\n$p")
    assert(p.contains("GraftColumnarFilter"),
      s"q155: expected the filter columnar below the top-k in:\n$p")
    assert(!p.contains("TakeOrderedAndProject"),
      s"q155: row TakeOrderedAndProject must be swapped out:\n$p")
  }

  test("q191 absorbs computed aggregate args into a columnar kernel project") {
    val df = run("q191_computed_arg_agg")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarProject"),
      s"q191: expected the absorbed-args kernel Project below the agg in:\n$p")
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"q191: expected the computed-arg grouped partial agg columnar in:\n$p")
  }

  test("q71 runs its embedding L2 folds through the columnar array-fold project") {
    val df = run("q71_embedding_normalize")
    df.collect()
    val p = planString(df)
    // both row Projects swap (the fold/element_at lanes + the norm
    // division lane), so the final stage is scan → columnar filter →
    // two columnar projects → ColumnarToRow
    assert(p.sliding("GraftColumnarProject".length).count(_ == "GraftColumnarProject") >= 2,
      s"q71: expected BOTH projects (folds + element_at/divide) columnar in:\n$p")
    assert(p.contains("GraftColumnarFilter"),
      s"q71: expected the filter columnar below the fold projects in:\n$p")
  }

  test("q192 absorbs conditional int128 money args into the columnar partial agg") {
    val df = run("q192_conditional_arg_agg")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarProject"),
      s"q192: expected the absorbed CASE/int128 kernel Project below the agg in:\n$p")
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"q192: expected the conditional-arg grouped partial agg columnar in:\n$p")
  }

  test("q99 (TPC-H Q8) runs its market-share partial agg columnar over the row join") {
    val df = run("q99_tpch_q8")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"q99: expected the conditional int128 partial agg columnar in:\n$p")
    assert(p.contains("RowToColumnar"),
      s"q99: expected the row-join → batch staging below the agg kernel in:\n$p")
  }

  test("q101 (TPC-H Q14) runs its promo-share partial agg columnar over the row join") {
    val df = run("q101_tpch_q14")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarPartialAgg"),
      s"q101: expected the conditional int128 global partial agg columnar in:\n$p")
  }

  test("q194 absorbs FILTER aggregates onto the conditional kernels") {
    val df = run("q194_filter_agg")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"q194: expected the FILTER-rewritten grouped partial agg columnar in:\n$p")
    assert(p.contains("MinMaxDec128Spec"),
      s"q194: expected the int128 min/max lanes in:\n$p")
  }

  test("q190 runs the date_trunc grouped map side fully columnar") {
    val df = run("q190_datetrunc_agg")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarProject"),
      s"q190: expected the pulled-out date_trunc key to compile onto the " +
        s"long kernel's Project in:\n$p")
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"q190: expected the computed-key grouped partial agg columnar in:\n$p")
  }

  test("q162 runs DISTINCT columnar on both exchange sides") {
    val df = run("q162_columnar_distinct")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"q162: expected the partial dedup columnar in:\n$p")
    assert(p.contains("GraftColumnarFinalAgg"),
      s"q162: expected the final dedup columnar in:\n$p")
  }

  test("q209/q210: the whole 4-level value-distinct plan swaps columnar") {
    for (name <- Seq("q209_distinct_sum_long", "q210_distinct_sum_double")) {
      val df = run(name)
      df.collect()
      val p = planString(df)
      // dedup partial+merge AND the distinct-marked partial/final — the
      // row operator must be absent entirely
      assert(p.contains("GraftColumnarGroupedAgg") && p.contains("GraftColumnarFinalAgg"),
        s"$name: expected columnar agg nodes in:\n$p")
      assert(!p.contains("HashAggregate("),
        s"$name: expected NO row HashAggregate in:\n$p")
    }
  }

  test("q216 mixed-distinct runs its PartialMerge buffer re-merge columnar") {
    val df = run("q216_distinct_mixed")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the emitBuffers twin prints its flag as the last constructor arg
    assert(p.linesIterator.exists(l =>
      l.contains("GraftColumnarFinalAgg") && l.trim.endsWith("true")),
      s"q216: expected the emitBuffers PartialMerge re-merge in:\n$p")
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"q216: expected the dedup partial columnar in:\n$p")
    // the MIXED merge+partial node swaps with a non-empty mergeIdx set
    // — and with it, NO row HashAggregate remains anywhere in the plan
    assert(!p.contains("HashAggregate("),
      s"q216: expected ALL FOUR aggregate levels columnar in:\n$p")
  }

  test("q211 multi-distinct runs on the columnar Expand rewrite") {
    val df = run("q211_distinct_count_two")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarExpand"),
      s"q211: expected the columnar Expand twin in:\n$p")
    assert(p.contains("GraftColumnarGroupedAgg") && p.contains("GraftColumnarFinalAgg"),
      s"q211: expected columnar dedup levels in:\n$p")
  }

  test("q227 composes channel aggs -> full outer join -> cumulative windows in one plan") {
    val df = run("q227_tpcds_q51_cumulative")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), s"q227: expected the FULL OUTER channel join in:\n$p")
    // the channel FINAL merges, the pre-join sorts, and the cumulative
    // running-frame windows all swap; the partials stay row per the
    // measured no-money-lane RowToColumnar gate
    assert(p.contains("GraftColumnarFinalAgg"),
      s"q227: expected the per-channel final merges columnar in:\n$p")
    assert(p.contains("GraftColumnarWindow"),
      s"q227: expected the cumulative running windows columnar in:\n$p")
    assert(p.contains("GraftColumnarSort"),
      s"q227: expected the pre-join sorts columnar in:\n$p")
  }

  test("q228 plans the EXISTS AND (EXISTS OR EXISTS) gate as semi + existence joins") {
    val df = run("q228_tpcds_q35_exists_gate")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ExistenceJoin"),
      s"q228: expected ExistenceJoins for the disjunctive EXISTS pair in:\n$p")
    assert(p.contains("LeftSemi"),
      s"q228: expected the leading EXISTS as a semi join in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"q228: correlated gates must stay equi-joins:\n$p")
  }

  test("q212 composes Expand -> columnar grouped agg -> window group-limit in one plan") {
    val df = run("q212_tpcds_rollup_topk")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Expand"), s"q212: expected the rollup Expand in:\n$p")
    assert(p.contains("GraftColumnarGroupedAgg") && p.contains("GraftColumnarFinalAgg"),
      s"q212: expected the rollup partial+final columnar in:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"q212: expected the rank top-k group-limit in:\n$p")
  }

  test("q215 answers all eight Q88 bands from a SINGLE pushed-down fact scan") {
    val df = run("q215_tpcds_q88_one_scan")
    df.collect()
    // count scans in the FINAL adaptive plan only (the explain string
    // repeats the tree in its Initial Plan section)
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==")(0)
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"q215: expected exactly ONE fact scan, got $scans in:\n$p")
    assert(p.contains("PushedFilters") && p.contains("l_quantity"),
      s"q215: expected the band envelope pushed to parquet in:\n$p")
    // the literal 8-subquery shape keeps each band scan pruned to the
    // two predicate columns
    val lit8 = run("q214_tpcds_scalar_subqueries")
    lit8.collect()
    val p8 = lit8.queryExecution.executedPlan.toString
    assert(p8.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"q214: expected band predicates pushed into each subquery scan in:\n$p8")
  }

  test("q229 TPC-DS Q3: dims broadcast, constraint pushed to the fact scan, columnar agg+topk") {
    val df = Catalog.validated.find(_.name == "q229_tpcds_q3").get.run(spark, GraftTestBase.sfDriverDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"),
      s"q229: expected the item/date_dim sides broadcast in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"q229: star joins must stay equi-joins:\n$p")
    // Catalyst propagates the item filter's i_manufact_id constraint
    // through the equi-join onto the lineitem side — at 100 TB this is
    // the difference between scanning 0.2% of the fact and all of it
    assert(p.contains("(l_partkey#") && p.contains("% 500)"),
      s"q229: expected the manufact-id constraint propagated onto the fact scan in:\n$p")
    assert(p.contains("GraftColumnarFinalAgg") && p.contains("GraftColumnarTopK"),
      s"q229: expected the final agg and LIMIT-ordered topk columnar in:\n$p")
  }

  test("q231 TPC-DS Q34: ticket aggregate below the customer join, VALUES dims broadcast") {
    val df = Catalog.validated.find(_.name == "q231_tpcds_q34").get.run(spark, GraftTestBase.sfDriverDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"),
      s"q231: star joins must stay equi-joins:\n$p")
    // the only nested-loop joins allowed are the constant VALUES cross
    // products that BUILD the 100/300-row demographics dims (literal
    // inline tables, no fact involvement) — every fact-side join must
    // be a broadcast hash join on its key
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"),
        s"q231: non-constant nested loop join leaked into the star:\n$l\n$p")
    }
    // the cnt HAVING-band runs columnar directly on the final agg's
    // output, BEFORE the broadcast join to customer — the join probes
    // only surviving tickets
    assert(p.contains("GraftColumnarFilter") && p.contains("cnt#"),
      s"q231: expected the cnt band filtered columnar below the customer join in:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 5,
      s"q231: expected orders/date_dim/store/hdemo/customer sides broadcast in:\n$p")
  }

  test("q230/q232/q233 TPC-DS stars: every fact-side join broadcast, no non-constant nested loops") {
    // r16 (verdict item: the r15-landed TPC-DS stars were never plan-
    // pinned): same discipline as q229/q231 — the fact joins must all
    // be broadcast hash joins, the only nested loops allowed are the
    // constant VALUES cross products that BUILD the demographics dims,
    // and no cartesian may appear.
    Seq("q230_tpcds_q7", "q232_tpcds_q42", "q233_tpcds_q73").foreach { name =>
      val df = Catalog.validated.find(_.name == name).get.run(spark, GraftTestBase.sfDriverDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!p.contains("CartesianProduct"),
        s"$name: star joins must stay equi-joins:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name: every dim fits its broadcast threshold — a sort-merge join " +
          s"means a dim grew past it or a hint was lost:\n$p")
      p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
        assert(l.contains("Cross"),
          s"$name: non-constant nested loop join leaked into the star:\n$l\n$p")
      }
      assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3,
        s"$name: expected the star dims broadcast in:\n$p")
    }
  }

  test("q93 executes its predicate on ColumnarBatch via GraftColumnarFilter") {
    val df = run("q93_columnar_filter")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarFilter"),
      s"expected the columnar filter swap in:\n$p")
    assert(p.contains("ColumnarToRow"),
      s"expected a ColumnarToRow transition above the columnar operator:\n$p")
  }

  test("q94 bucketed join reads co-located buckets with no exchange on the join inputs") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = run("q94_bucketed_colocated_join")
    df.collect()
    // AQE query stages are leaves to collect(), so flatten them manually
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def deepCollect[T](n: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
      val here = n match {
        case a: AdaptiveSparkPlanExec => deepCollect(a.executedPlan)(pf)
        case q: QueryStageExec => deepCollect(q.plan)(pf)
        case other =>
          (if (pf.isDefinedAt(other)) Seq(pf(other)) else Nil) ++
            other.children.flatMap(c => deepCollect(c)(pf))
      }
      here
    }
    val root = df.queryExecution.executedPlan
    val p = planString(df)
    assert(p.contains("SelectedBucketsCount"), s"expected bucketed scans in:\n$p")
    val smj = deepCollect(root) { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"expected SMJ in:\n$p")
    // co-location: nothing below the join re-shuffles. (A within-partition
    // Sort remains: Spark 3+ does not trust bucket-file sort order without
    // spark.sql.legacy.bucketedTableScan.outputOrdering — linear, no
    // exchange, so the scale win, the absent shuffle, is unaffected.)
    val bad = smj.head.children.flatMap(c => deepCollect(c) {
      case _: ShuffleExchangeLike => "ShuffleExchange"
    })
    assert(bad.isEmpty, s"join inputs must be exchange-free, found $bad in:\n$p")
  }

  test("q96 accumulates its partial aggregation on ColumnarBatch") {
    val df = run("q96_columnar_partial_agg")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarPartialAgg"),
      s"expected the columnar partial agg swap in:\n$p")
    assert(p.contains("GraftColumnarFilter"),
      s"expected the whole pre-shuffle stage columnar in:\n$p")
  }

  test("q97 (TPC-H Q6) pushes every predicate into the parquet scan") {
    val p = planString(run("q97_tpch_q6"))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(Seq("l_shipdate", "l_discount", "l_quantity").forall(pushed.contains),
      s"expected all three Q6 predicates pushed, got: $pushed")
  }

  test("q98 (TPC-H Q7) broadcasts the nation-filtered supplier dim") {
    assert(planString(run("q98_tpch_q7")).contains("BroadcastHashJoin"))
  }

  test("q99 (TPC-H Q8) reduces the customer side to a semi-join probe") {
    val p = planString(run("q99_tpch_q8"))
    assert(p.contains("LeftSemi"), s"expected customer semi-join in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims in:\n$p")
  }

  test("q104 (TPC-H Q19) disjunctive predicate extracts the equi-key — hash join, no cartesian") {
    val p = planString(run("q104_tpch_q19"))
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoop"),
      s"Q19's OR-of-ANDs must keep the partkey equi-join:\n$p")
  }

  test("q105 (TPC-H Q4) plans the EXISTS as a left-semi join") {
    assert(planString(run("q105_tpch_q4")).contains("LeftSemi"))
  }

  test("q107 (TPC-H Q22) plans the anti-join and the single-row threshold broadcast") {
    val p = planString(run("q107_tpch_q22"))
    assert(p.contains("LeftAnti"), s"expected anti-join to orders in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"threshold compare must broadcast the single-row agg, not cartesian:\n$p")
  }

  test("q118 (TPC-H Q2) min-cost join is all-broadcast, no cartesian") {
    val p = planString(run("q118_tpch_q2"))
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      s"Q2's decorrelated min must broadcast, not cartesian:\n$p")
  }

  test("q119 (TPC-H Q9) prunes lineitem with the part semi-join before the fact joins") {
    val p = planString(run("q119_tpch_q9"))
    assert(p.contains("LeftSemi"), s"expected red-part semi-prune in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q120 (TPC-H Q11) threshold is a single-row broadcast, inputs semi-pruned") {
    val p = planString(run("q120_tpch_q11"))
    assert(p.contains("LeftSemi"), s"expected nation-supplier semi-prune in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"HAVING threshold must broadcast the single-row agg:\n$p")
  }

  test("q121 (TPC-H Q16) NOT IN plans a broadcast anti-join") {
    val p = planString(run("q121_tpch_q16"))
    assert(p.contains("LeftAnti"), s"expected excluded-supplier anti-join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q122 (TPC-H Q20) decorrelated stock check keeps equi-joins only") {
    val p = planString(run("q122_tpch_q20"))
    assert(p.contains("LeftSemi"), s"expected supplier semi-join in:\n$p")
    // The only nested-loop allowed is the single-row broadcast cross join
    // that attaches |supplier| to the partsupp derivation (q65 pattern);
    // a cartesian would mean the correlated compare escaped the equi-join.
    assert(!p.contains("CartesianProduct"),
      s"availqty>0.5*sum must ride the (part,supp) equi-join as a post-filter:\n$p")
  }

  test("q137 reads the columnar cache via InMemoryTableScan") {
    val df = run("q137_cached_scan")
    df.collect()
    val p = planString(df)
    assert(p.contains("InMemoryTableScan"),
      s"expected the cached columnar batches to serve the scan:\n$p")
  }

  test("AQE coalesces the post-shuffle partitions of a small aggregation") {
    // 32 shuffle partitions over 3 result groups: AQE must coalesce the
    // read side instead of scheduling 32 near-empty tasks — at 100 TB
    // the same mechanism right-sizes every stage after the first.
    val df = run("q36_agg_minmax_avg")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"expected AQE partition coalescing in:\n$p")
  }

  test("q131 CDC compaction pushes a partial WindowGroupLimit below the shuffle") {
    val df = run("q131_cdc_latest")
    df.collect()
    val p = planString(df)
    assert(p.contains("WindowGroupLimit"),
      s"rank-1 filter must prune candidates map-side before the key shuffle:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the map-side pre-filter is the COLUMNAR probe — and it needs no
    // sort below it: the only Sort left is the final-stage one above
    // the exchange (plus the output ORDER BY)
    assert(p.contains("GraftColumnarWindowGroupLimit"),
      s"expected the columnar WGL probe in:\n$p")
    val mapSideSort = df.queryExecution.executedPlan.exists {
      case s: org.apache.spark.sql.execution.SortExec =>
        s.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.graft.GraftColumnarWindowGroupLimitExec])
      case _ => false
    }
    assert(!mapSideSort, s"no sort may remain below the columnar probe:\n$p")
  }

  test("q168 rank group limit probes columnar with no map-side sort") {
    val df = run("q168_rank_group_limit")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarRankGroupLimit"),
      s"expected the columnar rank probe in:\n$p")
    // no sort may remain below the probe (the probe replaces it)
    val mapSideSort = df.queryExecution.executedPlan.exists {
      case s: org.apache.spark.sql.execution.SortExec =>
        s.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.graft.GraftColumnarRankGroupLimitExec])
      case _ => false
    }
    assert(!mapSideSort, s"no sort may remain below the columnar rank probe:\n$p")
  }

  test("q168 final-stage window sort groups by key with the full-key fallback") {
    // rank() OVER (PARTITION BY l_orderkey ...): a task holds many
    // order keys, so the grouped sort under the final WindowGroupLimit
    // sorts all but its first key by the full key, like SortExec
    val df = run("q168_rank_group_limit")
    df.collect()
    val sorts = nodesOf(df).collect {
      case g: org.apache.spark.sql.execution.graft.GraftGroupedSortExec => g
    }
    assert(sorts.nonEmpty,
      s"expected the grouped sort under the final window stage:\n${planString(df)}")
    assert(sorts.map(_.metrics("fullKeyRows").value).sum > 0,
      s"the high-cardinality key must take the full-key sorter:\n${planString(df)}")
  }

  test("q169 dense_rank group limit probes columnar with no map-side sort") {
    val df = run("q169_dense_rank_group_limit")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarRankGroupLimit"),
      s"expected the columnar dense_rank probe in:\n$p")
    val mapSideSort = df.queryExecution.executedPlan.exists {
      case s: org.apache.spark.sql.execution.SortExec =>
        s.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.graft.GraftColumnarRankGroupLimitExec])
      case _ => false
    }
    assert(!mapSideSort, s"no sort may remain below the columnar dense_rank probe:\n$p")
  }

  test("q177/q178 bucketed right/full-outer joins probe columnar with the build-outer sweep") {
    for ((name, wantLeftOuter) <- Seq(
        "q177_bucketed_shuffled_right_outer" -> false,
        "q178_bucketed_shuffled_full_outer" -> true)) {
      val df = run(name)
      df.collect()
      val p = planString(df)
      assert(p.contains("GraftColumnarShuffledInnerJoin"),
        s"$name: expected the columnar shuffled probe in:\n$p")
      // the swap carries the build-outer flags (plan string shows args)
      assert(p.contains(s"$wantLeftOuter, true"),
        s"$name: expected leftOuter=$wantLeftOuter buildOuter=true in:\n$p")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size <= 2, s"$name: stream side must not shuffle:\n$p")
    }
  }

  test("q170 bucketed shuffled inner join probes columnar with a single build-side exchange") {
    val df = run("q170_bucketed_shuffled_inner")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarShuffledInnerJoin"),
      s"expected the columnar shuffled inner probe in:\n$p")
    // the bucketed stream side joins in place: exchanges = build side +
    // the final aggregation's at most
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 2, s"stream side must not shuffle:\n$p")
  }

  test("q171 bucketed shuffled left-outer join probes columnar with a single build-side exchange") {
    val df = run("q171_bucketed_shuffled_left_outer")
    df.collect()
    val p = planString(df)
    // deep traversal: AQE wraps the final plan in AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def deep(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
      case q: QueryStageExec => deep(q.plan)
      case other => other +: other.children.flatMap(deep)
    }
    val probe = deep(df.queryExecution.executedPlan).collectFirst {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarShuffledInnerJoinExec => e
    }
    assert(probe.exists(_.leftOuter),
      s"expected the columnar shuffled left-outer probe in:\n$p")
    // the bucketed stream side joins in place: exchanges = build side +
    // the final aggregation's at most
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 2, s"stream side must not shuffle:\n$p")
  }

  test("q172 bucketed sorted export swaps the per-bucket sort columnar with zero exchanges") {
    val df = run("q172_bucketed_sorted_export")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarSort"),
      s"expected the columnar sort kernel over the bucketed scan in:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"expected a bucketed scan in:\n$p")
    // the whole point: per-bucket sorted runs, no exchange anywhere
    assert(!p.contains("Exchange"), s"bucketed sorted export must not shuffle:\n$p")
    val rowSort = df.queryExecution.executedPlan.exists {
      case _: org.apache.spark.sql.execution.SortExec => true
      case _ => false
    }
    assert(!rowSort, s"row SortExec must be swapped:\n$p")
  }

  test("q37 variance family aggregates columnar on BOTH exchange sides") {
    val df = run("q37_agg_variance")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"expected the columnar grouped partial agg for the stddev/corr/covar family in:\n$p")
    assert(p.contains("GraftColumnarFinalAgg"),
      s"expected the moments/cov/corr FINAL merge columnar in:\n$p")
  }

  test("q174 decimal averages partial-aggregate columnar on the Decimal64 kernel") {
    val df = run("q174_decimal_avg")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"expected the columnar grouped partial agg for avg(decimal) in:\n$p")
  }

  test("q130 skewness/kurtosis pipeline swaps columnar on BOTH exchange sides") {
    val df = run("q130_higher_moments")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"expected the columnar grouped partial agg for skew/kurt in:\n$p")
    assert(p.contains("GraftColumnarFinalAgg"),
      s"expected the moments FINAL merge columnar (MomentsFinalSpec) in:\n$p")
  }

  test("q175 partial SortAggregate + map-side sort absorbed into the columnar grouped agg") {
    val df = run("q175_string_minmax_agg")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"expected the partial string min/max stage absorbed by the columnar kernel in:\n$p")
    // Exactly one SortAggregate survives in the executed plan: the FINAL
    // stage above the exchange (string buffers stay immutable there). If
    // the partial one reappears, the absorption gate regressed. (The
    // formatted explain is not used here — its "Initial Plan" section and
    // per-node details repeat the name.)
    val ep = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val sortAggs = "SortAggregate".r.findAllIn(ep).size
    assert(sortAggs == 1, s"expected only the final SortAggregate, found $sortAggs in:\n$ep")
  }

  test("partial SortAggregate is NOT absorbed when no shuffle sits above it") {
    // Bucketed-but-unsorted input on the grouping key: the scan's
    // HashPartitioning satisfies the aggregation's distribution, so
    // EnsureRequirements inserts a map-side Sort below the partial
    // SortAggregate but NO exchange between partial and final — the
    // final's requiredChildOrdering is met by the partial's own
    // outputOrdering. Absorbing Sort + partial into the (unordered)
    // hash kernel here would feed the final SortAggregate unsorted
    // rows → silent duplicate groups. The rule matches on the exchange
    // precisely to keep this shape on the row path.
    import org.apache.spark.sql.functions.{min, max}
    val tbl = "nation_bucketed_unsorted_gate"
    spark.read.parquet(s"$sfDir/nation.parquet")
      .write.bucketBy(4, "n_regionkey").mode("overwrite").saveAsTable(tbl)
    try {
      val df = spark.table(tbl).groupBy("n_regionkey")
        .agg(min("n_name").as("min_n"), max("n_name").as("max_n"))
      val rows = df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      // if the planner ever shuffles here the shape no longer exercises
      // the gate, so make that visible instead of passing vacuously
      assert(!plan.contains("Exchange"),
        s"expected a shuffle-free bucketed group-by plan, got:\n$plan")
      assert(!plan.contains("GraftColumnarGroupedAgg"),
        s"SortAggregate absorbed without a shuffle above it:\n$plan")
      // correctness regardless of shape: one row per distinct key
      val expected = spark.table(tbl).select("n_regionkey").distinct().count()
      assert(rows.length == expected,
        s"duplicate groups: got ${rows.length} rows for $expected keys")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("q176 running-frame window aggregation swaps to the streaming window exec") {
    val df = run("q176_window_streaming_agg")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftColumnarWindow"),
      s"expected the streaming window agg swap in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0,
      s"no row WindowExec should remain for the running frame:\n$p")
  }

  test("q185 wide rolling frames swap to the O(n) sliding window exec") {
    val df = run("q185_window_rolling_wide")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftColumnarWindow") && p.contains("WinAggSpec(13,"),
      s"expected the 1,000-row frames on the ring loop's invertible kernels in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0,
      s"no row WindowExec should remain for the wide sliding frames:\n$p")
    assertMaterializedOnce(df, "the window chain")(isWindow)
  }

  test("q186 wide value-range frames swap to the incremental range-slide exec") {
    val df = run("q186_window_range_wide")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftWindowRangeSlide"),
      s"expected the wide RANGE frames on the incremental kernels in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0,
      s"no row WindowExec should remain for the wide RANGE frames:\n$p")
    assertMaterializedOnce(df, "the window chain")(isWindow)
  }

  test("q187 size-based window nodes stream from the grouped sort below them") {
    // BOTH nodes leave the row exec — the kind-0 ntile/percent_rank/rank
    // node and the kind-1 cume_dist + RANGE-running-agg node — and each
    // sits directly on a grouped sort, whose counted groups it streams
    // instead of buffering the partition
    val df = run("q187_window_sizebased")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0,
      s"no row WindowExec should remain for the size-based functions:\n$p")
    val sized = nodesOf(df).collect {
      case w: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec
          if w.specs.exists(_.fn >= 14) => w
    }
    assert(sized.size == 2, s"expected both size-based nodes on GraftColumnarWindowExec in:\n$p")
    assert(sized.forall(_.child.isInstanceOf[
      org.apache.spark.sql.execution.graft.GraftGroupedSortExec]),
      s"each size-based node must sit on a grouped sort:\n$p")
    assert(sized.forall(_.metrics("numStreamedGroups").value > 0),
      s"each size-based node must stream a counted group:\n$p")
    assertMaterializedOnce(df, "the window chain")(isWindow)
  }

  test("q188 mixed-kind window node splits into three swapped graft nodes") {
    // one WindowExec mixing streaming (running sum/row_number/lag/
    // sliding min), size-based (ntile) and deferred RANGE-running
    // kinds: the splitter chains three homogeneous nodes over the one
    // sort and every one leaves the row exec
    val df = run("q188_window_mixed_kinds")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val swapped = "GraftColumnarWindow".r.findAllIn(p).size
    assert(swapped >= 3,
      s"expected the three split window nodes on GraftColumnarWindowExec in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0,
      s"no row WindowExec should remain after the mixed-kind split:\n$p")
    // ONE sort feeds the whole chain — splitting must not add sorts
    val sorts = "Sort \\[".r.findAllIn(p).size
    assert(sorts <= 2, // the window sort + the query's output ORDER BY
      s"the split chain must reuse the single window sort:\n$p")
    // the size-based (ntile) node sits lowest, on the grouped sort
    val ntile = nodesOf(df).collect {
      case w: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec
          if w.specs.exists(_.fn == 14) => w
    }
    assert(ntile.size == 1 && ntile.head.child.isInstanceOf[
      org.apache.spark.sql.execution.graft.GraftGroupedSortExec],
      s"the ntile node must sit directly on the grouped sort:\n$p")
    assertMaterializedOnce(df, "the window chain")(isWindow)
  }

  test("q189 suffix frames swap to the block-combined face") {
    // both nodes (ROWS suffix over the total order, RANGE suffix over
    // the tied quantity order) leave the O(n^2) row exec
    val df = run("q189_window_suffix")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val swapped = "GraftColumnarWindow".r.findAllIn(p).size
    assert(swapped >= 2,
      s"expected both suffix window nodes on GraftColumnarWindowExec in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0,
      s"no row WindowExec should remain for the suffix frames:\n$p")
    assertMaterializedOnce(df, "the window chain")(isWindow)
  }

  test("q02 presentation sort stores the columnar filter pipeline once") {
    val df = run("q02_filter_project")
    df.collect()
    assertMaterializedOnce(df, "the columnar filter")(
      _.isInstanceOf[org.apache.spark.sql.graft.GraftColumnarFilterExec])
  }

  test("q142 presentation sort stores the PII redaction once") {
    val df = run("q142_pii_redact")
    df.collect()
    assertMaterializedOnce(df, "the pii_redact projection") {
      case p: org.apache.spark.sql.execution.ProjectExec =>
        p.projectList.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.graft.PiiRedact]))
      case _ => false
    }
  }

  test("PlanDump prints q133's executed final plan with its graft nodes") {
    val p = PlanDump.executedPlanString(run("q133_columnar_broadcast_join"))
    assert(p.contains("isFinalPlan=true"), s"expected the final AQE plan:\n$p")
    assert(p.contains("GraftColumnarFilter"), s"expected the columnar filter:\n$p")
  }

  test("the fallback census of q68 built twice in one session is identical") {
    // q68's grouping-key reason names the time-window struct by its
    // expression id, which a second build of the query renumbers
    val runs = Seq.fill(2) {
      val df = run("q68_time_window_agg")
      df.collect()
      (graft.engine.GraftExplain.fallbackReasons(df), FallbackCensus.entries(df))
    }
    val Seq((raw1, census1), (raw2, census2)) = runs
    assert(raw1 != raw2, s"the raw reasons no longer carry run-dependent ids: $raw1")
    assert(census1._1.exists(_._2.startsWith("unsupported grouping key: window#N")),
      s"expected q68's normalized grouping-key reason in: ${census1._1}")
    assert(census1 == census2, s"census entries differ between two builds:\n$census1\n$census2")
  }

  test("q179 RANGE running frame swaps to the deferred streaming window exec") {
    val df = run("q179_window_range_peers")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftColumnarWindow"),
      s"expected the deferred window agg swap in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0,
      s"no row WindowExec should remain for the RANGE running frame:\n$p")
  }

  test("q156 winnowing windows all leave the row WindowExec") {
    // 6-gram assembly = pure-lead nodes; fingerprint selection =
    // sliding string-min + lead in ONE node — both on the ring loop
    val df = run("q156_winnowing_dedup")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftColumnarWindow"),
      s"expected streaming window execs in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0, s"no row WindowExec should remain:\n$p")
    assertMaterializedOnce(df, "the window chain")(isWindow)
  }

  test("q24 double-key value-range window swaps to the ring exec") {
    val df = run("q24_window_range")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftWindowRangeSlide"),
      s"expected the RANGE-slide exec in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0, s"no row WindowExec should remain:\n$p")
  }

  test("q184 rolling time-range window swaps to the value-bounded ring exec") {
    val df = run("q184_window_range_rolling")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftWindowRangeSlide"),
      s"expected the RANGE-slide exec in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0, s"no row WindowExec should remain:\n$p")
  }

  test("q183 forward-fill / first-last-nth swaps to the boxed streaming lane") {
    val df = run("q183_window_ffill")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftColumnarWindow"),
      s"expected the streaming window exec in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0, s"no row WindowExec should remain:\n$p")
  }

  test("q182 sliding frames swap to the ring-buffer window exec") {
    val df = run("q182_window_sliding")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftColumnarWindow") && p.contains("WinAggSpec(13,"),
      s"expected the ring loop's finite-ROWS specs in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0, s"no row WindowExec should remain:\n$p")
  }

  test("q181 ranking nodes swap to the streaming window exec") {
    val df = run("q181_window_ranking_stream")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftColumnarWindow"),
      s"expected the streaming window exec in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0,
      s"both ranking nodes (unique-order and tie-prone) should swap:\n$p")
  }

  test("q180 lag/lead swaps to the streaming offset exec") {
    val df = run("q180_window_lag_lead")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftColumnarWindow") && p.contains("WinAggSpec(12,"),
      s"expected the ring loop's lag/lead specs in:\n$p")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r.findAllIn(p).size
    assert(rowWindows == 0, s"no row WindowExec should remain:\n$p")
  }

  test("q173 timestamp-key semi join probes columnar through the unsafe-key path") {
    val df = run("q173_date_key_semi")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarSemiBHJ"),
      s"expected the columnar semi probe on the timestamp key in:\n$p")
  }

  test("q164 sorted-run export swaps the scan-side local sort for the columnar kernel") {
    val df = run("q164_sorted_run_export")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarSort"),
      s"expected the columnar sort kernel over the scan block in:\n$p")
    // no exchange: the whole point is one sorted run per scan split
    assert(!p.contains("Exchange"), s"sorted-run export must not shuffle:\n$p")
    // and no row Sort left anywhere
    val rowSort = df.queryExecution.executedPlan.exists {
      case _: org.apache.spark.sql.execution.SortExec => true
      case _ => false
    }
    assert(!rowSort, s"row SortExec must be swapped:\n$p")
  }

  test("q165 bucketed shuffled semi join probes columnar with a single build-side exchange") {
    val df = run("q165_bucketed_shuffled_semi")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarShuffledSemiJoin"),
      s"expected the columnar shuffled semi probe in:\n$p")
    // exactly two exchanges may appear: the build side's and the final
    // aggregation's — the bucketed stream side must join in place
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 2, s"stream side must not shuffle:\n$p")
  }

  test("q124 ORC re-scan pushes the quantity predicate into the ORC scan") {
    val p = planString(run("q124_orc_roundtrip"))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_quantity"),
      s"expected l_quantity pushed to the ORC scan, got: $pushed")
  }

  test("q193 computed-partition-key window canonicalizes onto the columnar suffix kernel") {
    // pmod(l_orderkey, 4096) PARTITION BY: the rule materializes the key
    // in a Project below and retries — the O(n) suffix exec must swap
    // (executed plan: the swap lives inside materialized AQE stages)
    val df = run("q193_window_suffix_hicard")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("GraftColumnarWindow"),
      s"computed-key window must canonicalize and swap:\n$p")
    assert(p.contains("_graftpkey"), s"expected the materialized key below:\n$p")
    assertMaterializedOnce(df, "the window chain")(isWindow)
  }

  test("q195 chunking is map-side: no exchange below the presentation sort") {
    val p = planString(run("q195_chunk_overlap"))
    // exactly one exchange — the rangepartitioning of the final orderBy;
    // tokenize/sequence/posexplode/slice all ride the scan stage
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1,
      s"chunking must not shuffle below the presentation sort:\n$p")
    assert(p.contains("Generate"), s"expected posexplode Generate:\n$p")
  }

  test("q196 url canonicalization shuffles once, on the canonical key") {
    val p = planString(run("q196_url_canonicalize"))
    // one partial+final agg pair around one exchange (+ the presentation
    // sort's range exchange): canonicalization itself is map-side
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 2,
      s"expected agg + presentation exchanges only:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash agg on the canonical key:\n$p")
  }

  test("q197 inference scores map-side and prunes the scan to its feature columns") {
    val p = planString(run("q197_lr_inference"))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 2,
      s"expected rollup + presentation exchanges only:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("n_chars") && readSchema.contains("lang") &&
      !readSchema.contains("doc_id"),
      s"expected the scan pruned to feature columns, got: $readSchema")
  }

  test("q109 hash sampling is a pure scan-filter — zero exchanges, columnar predicate") {
    val p = planString(run("q109_sample_hash"))
    assert(!p.contains("Exchange"), s"deterministic sample must not shuffle:\n$p")
    // the md5-threshold predicate compiles through the string kernel
    // language (CastIntegralToStr → Md5Hex → Substr → ComputedStrCmp)
    assert(p.contains("GraftColumnarFilter"),
      s"expected the sampling predicate on the columnar filter:\n$p")
  }

  test("q110 stratified sampling shuffles once, on the stratum key") {
    val p = planString(run("q110_sample_stratified"))
    // formatted mode lists each operator once in the tree and once in the
    // details — count the numbered detail entries.
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1 && p.contains("Window"),
      s"expected exactly one exchange feeding the window rank:\n$p")
    // rank-limit is applied map-side BEFORE the shuffle (Partial
    // WindowGroupLimit): at 100 TB only ≤20 rows per stratum per input
    // partition ever shuffle, not the corpus.
    assert(p.contains("WindowGroupLimit"),
      s"expected partial window-group-limit pushdown:\n$p")
  }

  test("q111 computes its projection on ColumnarBatch via GraftColumnarProject") {
    val df = run("q111_columnar_project")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarProject"),
      s"expected the columnar project swap in:\n$p")
    assert(p.contains("GraftColumnarFilter"),
      s"expected the whole pre-sort stage columnar in:\n$p")
  }

  test("q128 computes its string projection on ColumnarBatch via GraftColumnarProject") {
    val df = run("q128_columnar_string_project")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarProject"),
      s"expected the columnar project swap in:\n$p")
    assert(p.contains("GraftColumnarFilter"),
      s"expected the whole pre-sort stage columnar in:\n$p")
  }

  test("q133 inner join runs on Spark's BHJ over the columnar filter") {
    assertSparkBhjOverColumnarFilter("q133_columnar_broadcast_join")
  }

  test("q113 runs BOTH grouped aggregation stages on ColumnarBatch") {
    val df = run("q113_columnar_grouped_agg")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"expected the grouped columnar partial agg swap in:\n$p")
    assert(p.contains("GraftColumnarFinalAgg"),
      s"expected the columnar FINAL agg above the exchange in:\n$p")
    assert(p.contains("GraftColumnarFilter"),
      s"expected the whole pre-shuffle stage columnar in:\n$p")
  }

  test("q146 runs Q1's money sums Decimal64-columnar on BOTH sides of the shuffle") {
    val df = run("q146_tpch_q1_dec64")
    df.collect()
    val p = planString(df)
    assert(p.contains("GraftColumnarGroupedAgg"),
      s"expected the Decimal64 grouped partial agg columnar in:\n$p")
    assert(p.contains("GraftColumnarFinalAgg"),
      s"expected the Decimal64 FINAL agg columnar above the exchange in:\n$p")
    assert(p.contains("GraftColumnarProject") && p.contains("GraftColumnarFilter"),
      s"expected the whole pre-shuffle money pipeline columnar in:\n$p")
  }

  test("q114 skewed partition is split by AQE (skew=true), results unchanged") {
    // The oracle run uses default thresholds (sf0.01 is below the 256MB
    // skew trigger); here the thresholds are lowered so the same plan
    // fires the split at test scale — the knobs a real deployment tunes,
    // not a behavior change.
    def mk() = run("q114_aqe_skew_join")
    val expected = withSQLConf("spark.sql.adaptive.enabled" -> "false")(canon(mk()))
    withSQLConf(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB") {
      val df = mk()
      val got = canon(df)
      assert(got == expected, s"skew-split changed results: $got vs $expected")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"expected a skew-split SMJ in:\n$p")
    }
  }

  test("q115/q117 unbounded sides carry NO broadcast hint — AQE decides at runtime") {
    // Both formerly-hinted sides grow with corpus size (boilerplate
    // segments, vocabulary), so a static broadcast() hint would OOM
    // the driver at 100 TB. The plans must leave broadcast to AQE's
    // size-measured decision. q117 keeps exactly one hint: the
    // single-row totals, which is bounded by construction.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val h115 = run("q115_corpus_span_dedup")
      .queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(h115.isEmpty, s"q115 must carry no broadcast hints, found: $h115")
    val q117 = run("q117_unigram_lm_score")
    val h117 = q117.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(h117.size == 1,
      s"q117 may hint only the single-row totals, found ${h117.size}: $h117")
    // the corpus-side join is hash-led: xxhash64 longs lead the key
    assert(planString(q117).contains("xxhash64"),
      "q117 token join must be keyed on xxhash64 longs")
  }

  test("cosine_sim stays inside whole-stage codegen") {
    // Plain scan→project (no AQE exchange wrapping): the projection
    // computing cosine_sim must sit inside a WholeStageCodegen span.
    val df = Tables.t(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "cosine_sim(embedding, embedding) AS c")
    // formatted mode marks codegen membership with "[codegen id : N]"
    val p = planString(df)
    val projLine = p.linesIterator.find(_.startsWith("(3) Project")).getOrElse("")
    assert(p.contains("codegen id") && projLine.contains("codegen id"),
      s"expected the cosine_sim Project inside a codegen span:\n$p")
  }

  // ---- admission matrix of the columnar rule ----------------------------
  // Each case plans one small query (AQE off, so the rule has run when
  // the executed plan exists and nothing executes) and records, for every
  // candidate node, the graft exec it became or the fallback reason it
  // carries. The tables pin which argument each swap admits and the exact
  // reason text of each refusal.

  private lazy val matrixDir: String = {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-admission").toString
    (0 until 40).map { n =>
      (n % 3, n.toLong, n, n * 7L, n * 0.5, s"s${n % 5}",
        BigDecimal(n) / 4, java.sql.Date.valueOf(s"2024-01-${1 + n % 28}"))
    }.toDF("k", "o", "i", "l", "d", "s", "dec", "dt")
      .withColumn("dec38", $"dec".cast("decimal(38,2)"))
      .withColumn("dec", $"dec".cast("decimal(10,2)"))
      .write.mode("overwrite").parquet(s"$dir/win")
    dir
  }

  /** For every node `candidate` accepts: the graft exec's class with its
    * compiled specs (lane, function, ordinals), or the row node's name
    * and its normalized fallback reason. */
  private def admission(df: DataFrame)(
      candidate: org.apache.spark.sql.execution.SparkPlan => Boolean): String =
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      nodesUnder(df.queryExecution.executedPlan).filter(candidate).map { n =>
        n.getTagValue(org.apache.spark.sql.graft.GraftColumnarRule.fallbackReasonTag) match {
          case Some(r) => s"${n.nodeName}: ${FallbackCensus.normalize(r)}"
          case None =>
            val specs = n.productIterator.collect {
              case ss: Seq[_] if ss.nonEmpty &&
                  ss.forall(_.getClass.getSimpleName.endsWith("Spec")) => ss.mkString(",")
            }
            (n.getClass.getSimpleName +: specs.toSeq).mkString(" ")
        }
      }.mkString(" | ")
    }

  private def assertMatrix(actual: Seq[(String, String)], expected: Seq[(String, String)]): Unit = {
    val diff = actual.zip(expected).collect {
      case (a, e) if a != e => s"${a._1}:\n  got      ${a._2}\n  expected ${e._2}"
    }
    assert(actual.size == expected.size && diff.isEmpty,
      s"${diff.size} admission cases differ:\n${diff.mkString("\n")}\n\nactual table:\n" +
        actual.map { case (c, o) => s"""    "$c" -> "${o.replace("\"", "\\\"")}",""" }
          .mkString("\n"))
  }

  private val matrixAggs: Seq[(String, String, Boolean)] = Seq(
    ("sum int", "sum(i)", false), ("sum double", "sum(d)", false),
    ("sum TRY", "try_sum(i)", false), ("sum ANSI", "sum(i)", true),
    ("count(*)", "count(*)", false), ("count(x)", "count(i)", false),
    ("min long", "min(l)", false), ("max long", "max(l)", false),
    ("min double", "min(d)", false), ("max double", "max(d)", false),
    ("min string", "min(s)", false), ("max string", "max(s)", false),
    ("avg int", "avg(i)", false), ("avg decimal", "avg(dec)", false),
    ("avg double", "avg(d)", false),
    ("first", "first(i)", false), ("last", "last(i)", false))

  test("admission matrix: window aggregates by frame family") {
    spark.read.parquet(s"$matrixDir/win").createOrReplaceTempView("am_win")
    val w = "PARTITION BY k ORDER BY o"
    val suffixNo = "Window: suffix frame (CURRENT ROW .. UNBOUNDED FOLLOWING) supports " +
      "associative lanes only (integral sum, count, min/max); double sums and avg keep the row path"
    // avg over a short decimal reaches the window as a cast of an
    // average over unscaled values (Spark's DecimalAggregates)
    val shapeNo = "Window: unsupported window expression shape: avg(UnscaledValue(dec#N)) " +
      "(DoubleType) under Cast (running ROWS/RANGE or whole-partition frame over Complete agg, " +
      "or row_number/rank/dense_rank, only)"
    // the row_number spec beside each mixed-node slice
    val rowNumber = ",WinAggSpec(6,-1,2,IntegerType,false,0,false,0,0,null,false,0,0)"
    // (family, frame, a second expression sharing the node)
    val families = Seq(
      ("sliding ROWS", "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW", ""),
      ("finite RANGE", "RANGE BETWEEN 2 PRECEDING AND CURRENT ROW", ""),
      ("running ROWS", "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW", ""),
      ("whole partition", "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING", ""),
      ("suffix ROWS", "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING", ""),
      ("mixed finite ROWS", "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
        s", row_number() OVER ($w) AS rn"))
    val actual = for {
      (family, frame, extra) <- families
      (arg, f, ansi) <- matrixAggs
    } yield s"$family / $arg" ->
      withSQLConf("spark.sql.ansi.enabled" -> ansi.toString) {
        admission(spark.sql(s"SELECT k, o, $f OVER ($w $frame) AS r$extra FROM am_win"))(
          _.nodeName.contains("Window"))
      }
    assertMatrix(actual, Seq(
      "sliding ROWS / sum int" -> "GraftColumnarWindowExec WinAggSpec(13,2,0,LongType,false,0,false,0,0,null,false,-2,0)",
      "sliding ROWS / sum double" -> "GraftColumnarWindowExec WinAggSpec(13,2,1,DoubleType,false,0,false,0,0,null,false,-2,0)",
      "sliding ROWS / sum TRY" -> "Window: unsupported sliding window aggregate: try_sum(i#N) (LongType)",
      "sliding ROWS / sum ANSI" -> "GraftColumnarWindowExec WinAggSpec(13,2,0,LongType,true,0,false,0,0,null,false,-2,0)",
      "sliding ROWS / count(*)" -> "GraftColumnarWindowExec WinAggSpec(13,-1,2,LongType,false,0,false,0,5,null,false,-2,0)",
      "sliding ROWS / count(x)" -> "GraftColumnarWindowExec WinAggSpec(13,2,2,LongType,false,0,false,0,1,null,false,-2,0)",
      "sliding ROWS / min long" -> "GraftColumnarWindowExec WinAggSpec(13,2,0,LongType,false,0,false,0,2,null,false,-2,0)",
      "sliding ROWS / max long" -> "GraftColumnarWindowExec WinAggSpec(13,2,0,LongType,false,0,false,0,3,null,false,-2,0)",
      "sliding ROWS / min double" -> "GraftColumnarWindowExec WinAggSpec(13,2,1,DoubleType,false,0,false,0,2,null,false,-2,0)",
      "sliding ROWS / max double" -> "GraftColumnarWindowExec WinAggSpec(13,2,1,DoubleType,false,0,false,0,3,null,false,-2,0)",
      "sliding ROWS / min string" -> "GraftColumnarWindowExec WinAggSpec(13,2,3,StringType,false,0,false,0,2,null,false,-2,0)",
      "sliding ROWS / max string" -> "GraftColumnarWindowExec WinAggSpec(13,2,3,StringType,false,0,false,0,3,null,false,-2,0)",
      "sliding ROWS / avg int" -> "GraftColumnarWindowExec WinAggSpec(13,2,0,DoubleType,false,0,false,0,4,null,false,-2,0)",
      "sliding ROWS / avg decimal" -> shapeNo,
      "sliding ROWS / avg double" -> "GraftColumnarWindowExec WinAggSpec(13,2,1,DoubleType,false,0,false,0,4,null,false,-2,0)",
      "sliding ROWS / first" -> "Window: unsupported sliding window aggregate: first(i#N)() (IntegerType)",
      "sliding ROWS / last" -> "Window: unsupported sliding window aggregate: last(i#N)() (IntegerType)",
      "finite RANGE / sum int" -> "GraftWindowRangeSlideExec WinSlideSpec(0,2,0,LongType,false,-2,0)",
      "finite RANGE / sum double" -> "GraftWindowRangeSlideExec WinSlideSpec(0,2,1,DoubleType,false,-2,0)",
      "finite RANGE / sum TRY" -> "Window: unsupported RANGE window aggregate: try_sum(i#N) (LongType)",
      "finite RANGE / sum ANSI" -> "GraftWindowRangeSlideExec WinSlideSpec(0,2,0,LongType,true,-2,0)",
      "finite RANGE / count(*)" -> "GraftWindowRangeSlideExec WinSlideSpec(5,-1,2,LongType,false,-2,0)",
      "finite RANGE / count(x)" -> "GraftWindowRangeSlideExec WinSlideSpec(1,2,2,LongType,false,-2,0)",
      "finite RANGE / min long" -> "GraftWindowRangeSlideExec WinSlideSpec(2,2,0,LongType,false,-2,0)",
      "finite RANGE / max long" -> "GraftWindowRangeSlideExec WinSlideSpec(3,2,0,LongType,false,-2,0)",
      "finite RANGE / min double" -> "GraftWindowRangeSlideExec WinSlideSpec(2,2,1,DoubleType,false,-2,0)",
      "finite RANGE / max double" -> "GraftWindowRangeSlideExec WinSlideSpec(3,2,1,DoubleType,false,-2,0)",
      "finite RANGE / min string" -> "Window: unsupported RANGE window aggregate: min(s#N) (StringType)",
      "finite RANGE / max string" -> "Window: unsupported RANGE window aggregate: max(s#N) (StringType)",
      "finite RANGE / avg int" -> "GraftWindowRangeSlideExec WinSlideSpec(4,2,0,DoubleType,false,-2,0)",
      "finite RANGE / avg decimal" -> shapeNo,
      "finite RANGE / avg double" -> "GraftWindowRangeSlideExec WinSlideSpec(4,2,1,DoubleType,false,-2,0)",
      "finite RANGE / first" -> "Window: unsupported RANGE window aggregate: first(i#N)() (IntegerType)",
      "finite RANGE / last" -> "Window: unsupported RANGE window aggregate: last(i#N)() (IntegerType)",
      "running ROWS / sum int" -> "GraftColumnarWindowExec WinAggSpec(0,2,0,LongType,false,0,false,0,0,null,false,0,0)",
      "running ROWS / sum double" -> "GraftColumnarWindowExec WinAggSpec(0,2,1,DoubleType,false,0,false,0,0,null,false,0,0)",
      "running ROWS / sum TRY" -> "Window: unsupported window aggregate: try_sum(i#N) (LongType)",
      "running ROWS / sum ANSI" -> "GraftColumnarWindowExec WinAggSpec(0,2,0,LongType,true,0,false,0,0,null,false,0,0)",
      "running ROWS / count(*)" -> "GraftColumnarWindowExec WinAggSpec(5,-1,2,LongType,false,0,false,0,0,null,false,0,0)",
      "running ROWS / count(x)" -> "GraftColumnarWindowExec WinAggSpec(1,2,2,LongType,false,0,false,0,0,null,false,0,0)",
      "running ROWS / min long" -> "GraftColumnarWindowExec WinAggSpec(2,2,0,LongType,false,0,false,0,0,null,false,0,0)",
      "running ROWS / max long" -> "GraftColumnarWindowExec WinAggSpec(3,2,0,LongType,false,0,false,0,0,null,false,0,0)",
      "running ROWS / min double" -> "GraftColumnarWindowExec WinAggSpec(2,2,1,DoubleType,false,0,false,0,0,null,false,0,0)",
      "running ROWS / max double" -> "GraftColumnarWindowExec WinAggSpec(3,2,1,DoubleType,false,0,false,0,0,null,false,0,0)",
      "running ROWS / min string" -> "Window: unsupported window aggregate: min(s#N) (StringType)",
      "running ROWS / max string" -> "Window: unsupported window aggregate: max(s#N) (StringType)",
      "running ROWS / avg int" -> "GraftColumnarWindowExec WinAggSpec(4,2,0,DoubleType,false,0,false,0,0,null,false,0,0)",
      "running ROWS / avg decimal" -> shapeNo,
      "running ROWS / avg double" -> "GraftColumnarWindowExec WinAggSpec(4,2,1,DoubleType,false,0,false,0,0,null,false,0,0)",
      "running ROWS / first" -> "GraftColumnarWindowExec WinAggSpec(11,2,3,IntegerType,false,0,false,1,0,null,false,0,0)",
      "running ROWS / last" -> "GraftColumnarWindowExec WinAggSpec(10,2,3,IntegerType,false,0,false,0,0,null,false,0,0)",
      "whole partition / sum int" -> "GraftColumnarWindowExec WinAggSpec(0,2,0,LongType,false,2,false,0,0,null,false,0,0)",
      "whole partition / sum double" -> "GraftColumnarWindowExec WinAggSpec(0,2,1,DoubleType,false,2,false,0,0,null,false,0,0)",
      "whole partition / sum TRY" -> "Window: unsupported window aggregate: try_sum(i#N) (LongType)",
      "whole partition / sum ANSI" -> "GraftColumnarWindowExec WinAggSpec(0,2,0,LongType,true,2,false,0,0,null,false,0,0)",
      "whole partition / count(*)" -> "GraftColumnarWindowExec WinAggSpec(5,-1,2,LongType,false,2,false,0,0,null,false,0,0)",
      "whole partition / count(x)" -> "GraftColumnarWindowExec WinAggSpec(1,2,2,LongType,false,2,false,0,0,null,false,0,0)",
      "whole partition / min long" -> "GraftColumnarWindowExec WinAggSpec(2,2,0,LongType,false,2,false,0,0,null,false,0,0)",
      "whole partition / max long" -> "GraftColumnarWindowExec WinAggSpec(3,2,0,LongType,false,2,false,0,0,null,false,0,0)",
      "whole partition / min double" -> "GraftColumnarWindowExec WinAggSpec(2,2,1,DoubleType,false,2,false,0,0,null,false,0,0)",
      "whole partition / max double" -> "GraftColumnarWindowExec WinAggSpec(3,2,1,DoubleType,false,2,false,0,0,null,false,0,0)",
      "whole partition / min string" -> "Window: unsupported window aggregate: min(s#N) (StringType)",
      "whole partition / max string" -> "Window: unsupported window aggregate: max(s#N) (StringType)",
      "whole partition / avg int" -> "GraftColumnarWindowExec WinAggSpec(4,2,0,DoubleType,false,2,false,0,0,null,false,0,0)",
      "whole partition / avg decimal" -> shapeNo,
      "whole partition / avg double" -> "GraftColumnarWindowExec WinAggSpec(4,2,1,DoubleType,false,2,false,0,0,null,false,0,0)",
      "whole partition / first" -> "GraftColumnarWindowExec WinAggSpec(11,2,3,IntegerType,false,2,false,1,0,null,false,0,0)",
      "whole partition / last" -> "GraftColumnarWindowExec WinAggSpec(10,2,3,IntegerType,false,2,false,0,0,null,false,0,0)",
      "suffix ROWS / sum int" -> "GraftColumnarWindowExec WinAggSpec(0,2,0,LongType,false,3,false,0,0,null,false,0,0)",
      "suffix ROWS / sum double" -> suffixNo,
      "suffix ROWS / sum TRY" -> "Window: unsupported window aggregate: try_sum(i#N) (LongType)",
      "suffix ROWS / sum ANSI" -> "GraftColumnarWindowExec WinAggSpec(0,2,0,LongType,true,3,false,0,0,null,false,0,0)",
      "suffix ROWS / count(*)" -> "GraftColumnarWindowExec WinAggSpec(5,-1,2,LongType,false,3,false,0,0,null,false,0,0)",
      "suffix ROWS / count(x)" -> "GraftColumnarWindowExec WinAggSpec(1,2,2,LongType,false,3,false,0,0,null,false,0,0)",
      "suffix ROWS / min long" -> "GraftColumnarWindowExec WinAggSpec(2,2,0,LongType,false,3,false,0,0,null,false,0,0)",
      "suffix ROWS / max long" -> "GraftColumnarWindowExec WinAggSpec(3,2,0,LongType,false,3,false,0,0,null,false,0,0)",
      "suffix ROWS / min double" -> "GraftColumnarWindowExec WinAggSpec(2,2,1,DoubleType,false,3,false,0,0,null,false,0,0)",
      "suffix ROWS / max double" -> "GraftColumnarWindowExec WinAggSpec(3,2,1,DoubleType,false,3,false,0,0,null,false,0,0)",
      "suffix ROWS / min string" -> "Window: unsupported window aggregate: min(s#N) (StringType)",
      "suffix ROWS / max string" -> "Window: unsupported window aggregate: max(s#N) (StringType)",
      "suffix ROWS / avg int" -> suffixNo,
      "suffix ROWS / avg decimal" -> shapeNo,
      "suffix ROWS / avg double" -> suffixNo,
      "suffix ROWS / first" -> "GraftColumnarWindowExec WinAggSpec(9,2,3,IntegerType,false,3,false,0,0,null,false,0,0)",
      "suffix ROWS / last" -> "GraftColumnarWindowExec WinAggSpec(10,2,3,IntegerType,false,3,false,0,0,null,false,0,0)",
      "mixed finite ROWS / sum int" -> ("GraftColumnarWindowExec WinAggSpec(13,2,0,LongType,false,0,false,0,0,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / sum double" -> ("GraftColumnarWindowExec WinAggSpec(13,2,1,DoubleType,false,0,false,0,0,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / sum TRY" -> "Window: unsupported sliding window aggregate: try_sum(i#N) (LongType)",
      "mixed finite ROWS / sum ANSI" -> ("GraftColumnarWindowExec WinAggSpec(13,2,0,LongType,true,0,false,0,0,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / count(*)" -> ("GraftColumnarWindowExec WinAggSpec(13,-1,2,LongType,false,0,false,0,5,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / count(x)" -> ("GraftColumnarWindowExec WinAggSpec(13,2,2,LongType,false,0,false,0,1,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / min long" -> ("GraftColumnarWindowExec WinAggSpec(13,2,0,LongType,false,0,false,0,2,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / max long" -> ("GraftColumnarWindowExec WinAggSpec(13,2,0,LongType,false,0,false,0,3,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / min double" -> ("GraftColumnarWindowExec WinAggSpec(13,2,1,DoubleType,false,0,false,0,2,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / max double" -> ("GraftColumnarWindowExec WinAggSpec(13,2,1,DoubleType,false,0,false,0,3,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / min string" -> ("GraftColumnarWindowExec WinAggSpec(13,2,3,StringType,false,0,false,0,2,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / max string" -> ("GraftColumnarWindowExec WinAggSpec(13,2,3,StringType,false,0,false,0,3,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / avg int" -> ("GraftColumnarWindowExec WinAggSpec(13,2,0,DoubleType,false,0,false,0,4,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / avg decimal" -> shapeNo,
      "mixed finite ROWS / avg double" -> ("GraftColumnarWindowExec WinAggSpec(13,2,1,DoubleType,false,0,false,0,4,null,false,-2,0)" + rowNumber),
      "mixed finite ROWS / first" -> "Window: unsupported sliding window aggregate: first(i#N)() (IntegerType)",
      "mixed finite ROWS / last" -> "Window: unsupported sliding window aggregate: last(i#N)() (IntegerType)"
    ))
  }

  test("admission matrix: join swaps by key shape") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.broadcast
    val rows = (0 until 40).map { n =>
      (n.toLong, n % 6, n % 4, s"k${n % 6}", java.sql.Date.valueOf(s"2024-02-${1 + n % 6}"),
        (n % 6) * 0.5, (n % 3).toLong)
    }.toDF("id", "ki", "kj", "ks", "kd", "kx", "kl")
    val build = (0 until 8).map { n =>
      (n % 5, n % 4, s"k${n % 5}", java.sql.Date.valueOf(s"2024-02-${1 + n % 5}"),
        (n % 5) * 0.5, n.toLong)
    }.toDF("bi", "bj", "bs", "bd", "bx", "bv")
    // the shuffled joins swap only over an exchange-free stream, so each
    // key shape gets a stream bucketed on its own key columns
    val keys = Seq(
      ("int", Seq("ki"), $"ki" === $"bi"),
      ("composite int", Seq("ki", "kj"), $"ki" === $"bi" && $"kj" === $"bj"),
      ("string", Seq("ks"), $"ks" === $"bs"),
      ("date", Seq("kd"), $"kd" === $"bd"),
      ("double", Seq("kx"), $"kx" === $"bx"),
      ("composite long", Seq("id", "kl"), $"id" === $"bv" && $"kl" === $"bv"),
      ("computed", Seq("ki"), $"ki" + 1 === $"bi"))
    keys.foreach { case (name, cols, _) =>
      rows.write.format("parquet").bucketBy(4, cols.head, cols.tail: _*)
        .option("path", s"$matrixDir/join_${name.replace(' ', '_')}")
        .mode("overwrite").saveAsTable(s"am_stream_${name.replace(' ', '_')}")
    }
    val semiBhjNo = "BroadcastHashJoin: semi/anti broadcast join not columnar-probeable " +
      "(needs integral attribute keys packing into 8 bytes, or a single string/date/timestamp key)"
    val semiShjNo = "ShuffledHashJoin: shuffled semi/anti join not columnar-probeable " +
      "(needs integral attribute keys packing into 8 bytes, or a single string/date/timestamp key)"
    val innerShjNo = "ShuffledHashJoin: inner/outer shuffled join not columnar-probeable " +
      "(needs integral attribute keys packing into 8 bytes or a single string/date/timestamp " +
      "key, and supported build column types)"
    // double and computed keys put an exchange under the stream side
    val rowStream = "ShuffledHashJoin: stream side is not columnar: ShuffleExchangeExec"
    val isJoin: org.apache.spark.sql.execution.SparkPlan => Boolean =
      n => n.nodeName.contains("Join") || n.nodeName.contains("BHJ")
    try {
      val actual = for {
        (swap, hint, types) <- Seq(
          ("semi BHJ", "broadcast", Seq("left_semi", "left_anti")),
          ("semi SHJ", "shuffle_hash", Seq("left_semi", "left_anti")),
          ("inner/outer SHJ", "shuffle_hash", Seq("inner", "left_outer", "full_outer")))
        tpe <- types
        (name, _, cond) <- keys
      } yield s"$swap / $tpe / $name" -> {
        val stream = spark.table(s"am_stream_${name.replace(' ', '_')}")
        val b = if (hint == "broadcast") broadcast(build) else build.hint(hint)
        admission(stream.join(b, cond, tpe))(isJoin)
      }
      assertMatrix(actual, Seq(
        "semi BHJ / left_semi / int" -> "GraftColumnarSemiBHJExec",
        "semi BHJ / left_semi / composite int" -> "GraftColumnarSemiBHJExec",
        "semi BHJ / left_semi / string" -> "GraftColumnarSemiBHJExec",
        "semi BHJ / left_semi / date" -> "GraftColumnarSemiBHJExec",
        "semi BHJ / left_semi / double" -> semiBhjNo,
        "semi BHJ / left_semi / composite long" -> semiBhjNo,
        "semi BHJ / left_semi / computed" -> semiBhjNo,
        "semi BHJ / left_anti / int" -> "GraftColumnarSemiBHJExec",
        "semi BHJ / left_anti / composite int" -> "GraftColumnarSemiBHJExec",
        "semi BHJ / left_anti / string" -> "GraftColumnarSemiBHJExec",
        "semi BHJ / left_anti / date" -> "GraftColumnarSemiBHJExec",
        "semi BHJ / left_anti / double" -> semiBhjNo,
        "semi BHJ / left_anti / composite long" -> semiBhjNo,
        "semi BHJ / left_anti / computed" -> semiBhjNo,
        "semi SHJ / left_semi / int" -> "GraftColumnarShuffledSemiJoinExec",
        "semi SHJ / left_semi / composite int" -> "GraftColumnarShuffledSemiJoinExec",
        "semi SHJ / left_semi / string" -> "GraftColumnarShuffledSemiJoinExec",
        "semi SHJ / left_semi / date" -> "GraftColumnarShuffledSemiJoinExec",
        "semi SHJ / left_semi / double" -> rowStream,
        "semi SHJ / left_semi / composite long" -> semiShjNo,
        "semi SHJ / left_semi / computed" -> rowStream,
        "semi SHJ / left_anti / int" -> "GraftColumnarShuffledSemiJoinExec",
        "semi SHJ / left_anti / composite int" -> "GraftColumnarShuffledSemiJoinExec",
        "semi SHJ / left_anti / string" -> "GraftColumnarShuffledSemiJoinExec",
        "semi SHJ / left_anti / date" -> "GraftColumnarShuffledSemiJoinExec",
        "semi SHJ / left_anti / double" -> rowStream,
        "semi SHJ / left_anti / composite long" -> semiShjNo,
        "semi SHJ / left_anti / computed" -> rowStream,
        "inner/outer SHJ / inner / int" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / inner / composite int" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / inner / string" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / inner / date" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / inner / double" -> rowStream,
        "inner/outer SHJ / inner / composite long" -> innerShjNo,
        "inner/outer SHJ / inner / computed" -> rowStream,
        "inner/outer SHJ / left_outer / int" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / left_outer / composite int" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / left_outer / string" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / left_outer / date" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / left_outer / double" -> rowStream,
        "inner/outer SHJ / left_outer / composite long" -> innerShjNo,
        "inner/outer SHJ / left_outer / computed" -> rowStream,
        "inner/outer SHJ / full_outer / int" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / full_outer / composite int" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / full_outer / string" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / full_outer / date" -> "GraftColumnarShuffledInnerJoinExec",
        "inner/outer SHJ / full_outer / double" -> rowStream,
        "inner/outer SHJ / full_outer / composite long" -> innerShjNo,
        "inner/outer SHJ / full_outer / computed" -> rowStream
      ))
    } finally keys.foreach { case (name, _, _) =>
      spark.sql(s"DROP TABLE IF EXISTS am_stream_${name.replace(' ', '_')}")
    }
  }

  test("admission matrix: sort, top-k and window-group-limit keys") {
    spark.read.parquet(s"$matrixDir/win").createOrReplaceTempView("am_win")
    // (key, its column, the sort expression)
    val keys = Seq(("int", "i", "i"), ("long", "l", "l"), ("double", "d", "d"),
      ("string", "s", "s"), ("date", "dt", "dt"), ("decimal", "dec", "dec"),
      ("wide decimal", "dec38", "dec38"), ("computed", "i", "i + 1"))
    val ops: Seq[(String, (String, String) => String,
        org.apache.spark.sql.execution.SparkPlan => Boolean)] = Seq(
      ("sort", (c, _) => s"SELECT o, $c FROM am_win",
        n => n.nodeName.contains("Sort")),
      ("top-k", (c, k) => s"SELECT o, $c FROM am_win ORDER BY $k DESC LIMIT 5",
        n => n.nodeName.contains("TopK") || n.nodeName.contains("TakeOrdered")),
      ("window group limit", (c, k) => s"SELECT * FROM (SELECT o, $c, row_number() OVER " +
        s"(PARTITION BY k ORDER BY $k) AS rn FROM am_win) WHERE rn <= 2",
        n => n.nodeName.contains("GroupLimit")))
    val actual = for {
      (op, sql, candidate) <- ops
      (name, c, k) <- keys
    } yield s"$op / $name" -> {
      val df = spark.sql(sql(c, k))
      admission(if (op == "sort") df.sortWithinPartitions(org.apache.spark.sql.functions.expr(k))
        else df)(candidate)
    }
    assertMatrix(actual, Seq(
      "sort / int" -> "GraftColumnarSortExec TopKKeySpec(1,IntegerType,false,true)",
      "sort / long" -> "GraftColumnarSortExec TopKKeySpec(1,LongType,false,true)",
      "sort / double" -> "GraftColumnarSortExec TopKKeySpec(1,DoubleType,false,true)",
      "sort / string" -> "Sort: sort output not narrow (at most 4 columns, each long/double family or Decimal64)",
      "sort / date" -> "GraftColumnarSortExec TopKKeySpec(1,DateType,false,true)",
      "sort / decimal" -> "GraftColumnarSortExec TopKKeySpec(1,DecimalType(10,2),false,true)",
      "sort / wide decimal" -> "Sort: sort output not narrow (at most 4 columns, each long/double family or Decimal64)",
      "sort / computed" -> "Sort: unsupported sort key: (i#N + 1) (IntegerType)",
      "top-k / int" -> "GraftColumnarTopKExec TopKKeySpec(1,IntegerType,true,false)",
      "top-k / long" -> "GraftColumnarTopKExec TopKKeySpec(1,LongType,true,false)",
      "top-k / double" -> "GraftColumnarTopKExec TopKKeySpec(1,DoubleType,true,false)",
      "top-k / string" -> "GraftColumnarTopKExec TopKKeySpec(1,StringType,true,false)",
      "top-k / date" -> "GraftColumnarTopKExec TopKKeySpec(1,DateType,true,false)",
      "top-k / decimal" -> "GraftColumnarTopKExec TopKKeySpec(1,DecimalType(10,2),true,false)",
      "top-k / wide decimal" -> "TakeOrderedAndProject: unsupported top-k sort key: dec38#N (DecimalType(38,2))",
      "top-k / computed" -> "TakeOrderedAndProject: unsupported top-k sort key: (i#N + 1) (IntegerType)",
      "window group limit / int" -> "WindowGroupLimitExec | GraftColumnarWindowGroupLimitExec TopKKeySpec(1,IntegerType,false,true)",
      "window group limit / long" -> "WindowGroupLimitExec | GraftColumnarWindowGroupLimitExec TopKKeySpec(1,LongType,false,true)",
      "window group limit / double" -> "WindowGroupLimitExec | GraftColumnarWindowGroupLimitExec TopKKeySpec(1,DoubleType,false,true)",
      "window group limit / string" -> "WindowGroupLimitExec | GraftColumnarWindowGroupLimitExec TopKKeySpec(1,StringType,false,true)",
      "window group limit / date" -> "WindowGroupLimitExec | GraftColumnarWindowGroupLimitExec TopKKeySpec(1,DateType,false,true)",
      "window group limit / decimal" -> "WindowGroupLimitExec | GraftColumnarWindowGroupLimitExec TopKKeySpec(1,DecimalType(10,2),false,true)",
      "window group limit / wide decimal" -> "WindowGroupLimitExec | WindowGroupLimit: window group limit not columnar-probeable (needs row_number/rank/dense_rank, 1-2 attribute partition keys and attribute order keys of supported types)",
      "window group limit / computed" -> "WindowGroupLimitExec | GraftColumnarWindowGroupLimitExec TopKKeySpec(3,IntegerType,false,true)"
    ))
  }
}
