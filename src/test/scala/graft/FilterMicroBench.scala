package graft

import org.apache.spark.sql.graft.GraftColumnarRule

/** A/B micro-bench: the same filter shapes with the columnar swap on vs
  * off (spark.graft.columnar.enabled), min-of-N through the noop sink.
  * Run: sbt 'Test/runMain graft.FilterMicroBench [sfDir]'
  */
object FilterMicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // selectivity spread: ~98% (TPC-H Q1 shape), ~50%, ~2%, string match
    val shapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "hi-sel-98pct" -> (() => Tables.t(spark, sfDir, "lineitem")
        .filter($"l_shipdate" <= org.apache.spark.sql.functions.lit("1998-09-02").cast("timestamp"))),
      "mid-sel-50pct" -> (() => Tables.t(spark, sfDir, "lineitem")
        .filter($"l_quantity" > 25.0)),
      "lo-sel-2pct" -> (() => Tables.t(spark, sfDir, "lineitem")
        .filter($"l_orderkey" < 3000)),
      "string-conj" -> (() => Tables.t(spark, sfDir, "lineitem")
        .filter($"l_returnflag" === "R" && $"l_linestatus" === "F" && $"l_discount" > 0.05)),
      // computed projections (GraftColumnarProject vs codegen'd row project)
      "proj-revenue" -> (() => Tables.t(spark, sfDir, "lineitem")
        .select($"l_orderkey",
          ($"l_extendedprice" * (org.apache.spark.sql.functions.lit(1.0) - $"l_discount")).as("net"))),
      "proj-4-kernels" -> (() => Tables.t(spark, sfDir, "lineitem")
        .select(
          ($"l_extendedprice" * (org.apache.spark.sql.functions.lit(1.0) - $"l_discount")).as("net"),
          (($"l_extendedprice" / org.apache.spark.sql.functions.lit(100.0)) * $"l_tax").as("tax_amt"),
          org.apache.spark.sql.functions.abs($"l_discount" - $"l_tax").as("spread"),
          (-$"l_quantity").as("negq"))),
      // Decimal64 kernels (cast + subtract + multiply + rescale) vs
      // codegen'd row decimal arithmetic
      "proj-decimal" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .select(
            ($"l_extendedprice".cast("decimal(9,2)") * (lit(1).cast("decimal(7,4)") -
              $"l_discount".cast("decimal(7,4)"))).as("net"),
            $"l_extendedprice".cast("decimal(12,2)").cast("decimal(14,4)").as("base4"))
      }),
      // computed aggregate ARGS absorbed into a kernel project below the
      // grouped partial (vs the codegen'd row agg evaluating args inline)
      "grouped-agg-argabsorb" -> (() => {
        import org.apache.spark.sql.functions._
        val dp = Tables.t(spark, sfDir, "lineitem")
        dp.groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum($"l_extendedprice".cast("decimal(9,2)") *
              (lit(1).cast("decimal(5,4)") - $"l_discount".cast("decimal(5,4)")))
              .as("net"),
            min(-$"l_extendedprice").as("mn"),
            max(abs($"l_discount" - $"l_tax")).as("mx"),
            count(lit(1)).as("n"))
      }),
      // grouped partial agg (GraftColumnarGroupedAgg vs codegen'd hash agg)
      "grouped-agg" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)), sum($"l_discount"), avg($"l_quantity"),
            min($"l_orderkey"), max($"l_orderkey"))
      }),
      "grouped-agg-hi-card" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .groupBy($"l_orderkey") // ~15k groups/partition at sf0.1
          .agg(count(lit(1)), sum($"l_discount"), max($"l_quantity"))
      }),
      // the variance-family Welford kernels (MomentsSpec/CovSpec/CorrSpec)
      "grouped-agg-moments" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(stddev_samp($"l_extendedprice"), var_pop($"l_quantity"),
            corr($"l_quantity", $"l_extendedprice"),
            covar_samp($"l_quantity", $"l_discount"))
      }),
      // string buffers force the row planner onto Sort + SortAggregate;
      // the columnar swap absorbs both (hash kernel needs no order)
      "grouped-agg-sortabsorb" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .groupBy($"l_orderkey")
          .agg(min($"l_returnflag"), max($"l_linestatus"),
            first($"l_returnflag", ignoreNulls = true), count(lit(1)))
      }),
      "grouped-agg-sortabsorb-low" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(min($"l_linestatus"), max($"l_linestatus"),
            last($"l_linestatus", ignoreNulls = true), count(lit(1)))
      }),
      // conditional COUNT-FLAG sums (the TPC-H Q12 shape) over a columnar
      // scan child: CaseWhenL int/long lane absorbed below the partial
      "grouped-agg-condflags" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            sum(when($"l_quantity" < 25, 1).otherwise(0)).as("n_small"),
            sum(when($"l_linestatus" === "F", 1L).otherwise(0L)).as("n_f"),
            sum(when($"l_discount" > 0.05, 1).otherwise(0)).as("n_disc"),
            count(lit(1)).as("n"))
      }),
      // the VERBATIM TPC-H Q1 aggregation (decimal check-column form):
      // both dec128 money products absorbed via the narrowing
      // cast(dec(38,4) AS dec(18,4)) — partial fully columnar
      "grouped-agg-tpchq1" -> (() => {
        import org.apache.spark.sql.functions._
        def d(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
        val l = Tables.t(spark, sfDir, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        l.groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum(d($"l_quantity")).as("sum_qty"),
            sum(d($"l_extendedprice")).as("sum_base_price"),
            sum(d($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - d($"l_discount")))
              .as("sum_disc_price"),
            sum((d($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - d($"l_discount")))
              .cast("decimal(18,4)") * (lit(1).cast("decimal(18,2)") + d($"l_tax")))
              .as("sum_charge"),
            avg(d($"l_quantity")).as("avg_qty"),
            count(lit(1)).as("n"))
      }),
      // computed-string-operand predicate (ComputedStrCmp: md5 threshold
      // sampling — the q109 shape; the win is the avoided ColumnarToRow
      // of the ~7/8 dropped rows, lineitem scale)
      "filter-str-md5-sample" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .filter(substring(md5($"l_orderkey".cast("string")), 1, 3) < "200")
          .select($"l_orderkey", $"l_partkey", $"l_quantity")
      }),
      // cheap computed string compare, higher kernel-vs-hash ratio
      // (allocation-bearing: measured 1.05-1.09x → gated OFF the swap)
      "filter-str-concat" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .filter(concat($"l_returnflag", $"l_linestatus") === lit("RF"))
          .select($"l_orderkey", $"l_returnflag", $"l_linestatus")
      }),
      // allocation-FREE computed compare (substring is a byte-range view)
      "filter-str-substr" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "orders")
          .filter(substring($"o_orderpriority", 1, 1) === lit("1"))
          .select($"o_orderkey", $"o_orderpriority")
      }),
      // top-k with OFFSET riding the columnar probe (limit = fetch+offset)
      "topk-offset" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
          .offset(50).limit(100)
      }))

    // MICRO_ONLY=prefix1,prefix2 runs just matching shapes (the full
    // sweep exceeds a 10-minute harness window; sections are
    // independently runnable)
    val only = sys.env.get("MICRO_ONLY").map(_.split(",").toSet)
    def sel(shapes: Seq[(String, () => org.apache.spark.sql.DataFrame)]) =
      shapes.filter { case (n, _) => only.forall(_.exists(n.startsWith)) }

    def timeIt(f: () => org.apache.spark.sql.DataFrame): Double =
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        f().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min

    // warmup
    Tables.t(spark, sfDir, "lineitem").write.format("noop").mode("overwrite").save()
    sel(shapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.enabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.enabledKey, "true")
      val on = timeIt(f)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }

    // Expand A/B: toggle only the expand swap (row Expand feeding the
    // row partial agg vs columnar Expand feeding the columnar grouped
    // partial agg — the pairing is the unit under test)
    val expandShapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "expand-rollup" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)), sum($"l_discount"), avg($"l_quantity"), max($"l_orderkey"))
      }),
      "expand-cube-3d" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "lineitem")
          .cube($"l_returnflag", $"l_linestatus", $"l_linenumber")
          .agg(count(lit(1)), sum($"l_discount"), min($"l_quantity"))
      }))
    sel(expandShapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.expandEnabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.expandEnabledKey, "true")
      val on = timeIt(f)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }

    // Semi/anti broadcast probe A/B: existence filter over the stream,
    // no build output (vs Spark's codegen row BHJ on the same shapes)
    val semiShapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      // dim predicate on a NON-key column: a key-derived one would be
      // inferred onto the stream filter and knock the stream off the
      // columnar path (no swap at all — measuring nothing)
      "bhj-semi" -> (() => {
        import org.apache.spark.sql.functions._
        val dim = Tables.t(spark, sfDir, "part").filter($"p_size" < 15)
          .select($"p_partkey")
        Tables.t(spark, sfDir, "lineitem")
          .join(broadcast(dim), $"l_partkey" === $"p_partkey", "left_semi")
      }),
      "bhj-anti" -> (() => {
        import org.apache.spark.sql.functions._
        val dim = Tables.t(spark, sfDir, "part").filter($"p_size" < 15)
          .select($"p_partkey")
        Tables.t(spark, sfDir, "lineitem")
          .join(broadcast(dim), $"l_partkey" === $"p_partkey", "left_anti")
      }))
    sel(semiShapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.semiBhjEnabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.semiBhjEnabledKey, "true")
      val on = timeIt(f)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }

    // Top-k A/B: the row TakeOrderedAndProject (ColumnarToRow of every
    // row, codegen'd heap) vs the columnar bounded heap probing the sort
    // key vector (losers cost one primitive read). Sort keys are plain
    // attributes; the 3-key tiebreak makes results deterministic.
    val topkShapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "topk-10" -> (() => {
        Tables.t(spark, sfDir, "lineitem")
          .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
          .limit(10)
      }),
      "topk-1000" -> (() => {
        Tables.t(spark, sfDir, "lineitem")
          .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
          .limit(1000)
      }),
      "topk-filtered" -> (() => {
        Tables.t(spark, sfDir, "lineitem")
          .filter($"l_quantity" > 25.0)
          .orderBy($"l_shipdate".desc, $"l_orderkey", $"l_linenumber")
          .limit(100)
      }))
    sel(topkShapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.topkEnabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.topkEnabledKey, "true")
      val on = timeIt(f)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }

    // Partial WindowGroupLimit A/B: map-side Sort + row WGL vs the
    // hash-of-bounded-heaps probe (no sort at all). The CDC rank-1 shape.
    val wglShapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "wgl-rank1-cdc" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id", $"event_type")
          .orderBy($"ts".desc, $"event_id".desc)
        Tables.events(spark, sfDir)
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter($"rn" === 1)
      }),
      "wgl-top3-key" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"l_orderkey")
          .orderBy($"l_extendedprice".desc, $"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter($"rn" <= 3)
      }),
      "wgl-rank1-hicard" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"l_orderkey")
          .orderBy($"l_extendedprice".desc, $"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter($"rn" === 1)
      }),
      // rank/dense_rank: ties survive, the threshold-tracker probe with
      // zero-copy candidate emission (GraftColumnarRankGroupLimitExec)
      "wgl-rank2-ties" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"l_orderkey").orderBy($"l_extendedprice".desc)
        Tables.t(spark, sfDir, "lineitem")
          .withColumn("rk", org.apache.spark.sql.functions.rank().over(w))
          .filter($"rk" <= 2)
      }),
      "wgl-dense-rank2" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"l_suppkey").orderBy($"l_quantity".desc)
        Tables.t(spark, sfDir, "lineitem")
          .withColumn("rk", org.apache.spark.sql.functions.dense_rank().over(w))
          .filter($"rk" <= 2)
      }),
      "wgl-rank1-mid" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"l_suppkey")
          .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter($"rn" === 1)
      }))
    // keys-only DISTINCT through the grouped-agg kernels (both stages)
    val distinctShapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "distinct-lowcard" -> (() =>
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_returnflag", $"l_linestatus").distinct()),
      "distinct-hicard" -> (() =>
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey", $"l_linenumber").distinct()))
    sel(distinctShapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.enabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.enabledKey, "true")
      val on = timeIt(f)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }

    sel(wglShapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.wglEnabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.wglEnabledKey, "true")
      val on = timeIt(f)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }

    // Streaming window agg (GraftColumnarWindowExec) vs the row
    // WindowExec's buffer-the-group-then-walk on the running ROWS frame
    val winShapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      // many tiny groups (~4 rows each): swap overhead floor
      "winagg-smallgrp" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey", sum($"l_quantity").over(w).as("s"),
            count(lit(1)).over(w).as("n"))
      }),
      // 3 giant groups (~200k rows each at sf0.1): the row exec buffers
      // each whole group — the structural case
      "winagg-hotgrp" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_returnflag").orderBy($"l_orderkey", $"l_linenumber")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_returnflag", sum($"l_extendedprice").over(w).as("s"))
      }),
      // DEFAULT frame under ORDER BY (RANGE running, peer groups):
      // l_quantity has ~50 distinct values → heavy ties per order key
      "winagg-range" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_returnflag", sum($"l_extendedprice").over(w).as("s"),
            avg($"l_discount").over(w).as("a"))
      }),
      // whole-partition frame (no ORDER BY): per-key min/max/sum
      "winagg-whole" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_orderkey")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey", sum($"l_quantity").over(w).as("s"),
            max($"l_extendedprice").over(w).as("mx"))
      }),
      // streaming lag/lead (the window ring loop's O(k) row ring vs
      // the row WindowExec's whole-group buffer)
      "winoff-lag1" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey", lag($"l_extendedprice", 1).over(w).as("prev"))
      }),
      "winoff-hot" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        // 3 giant partitions: the row exec buffers ~200k rows per group
        // for a 1-row lookback + 2-row lookahead
        val w = Window.partitionBy($"l_returnflag").orderBy($"l_orderkey", $"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_returnflag", lag($"l_quantity", 1).over(w).as("prev"),
            lead($"l_quantity", 2, -1.0).over(w).as("nxt2"))
      }),
      // streaming ranking (row_number/rank/dense_rank as kind-0 specs)
      "winrank-scd2" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        // the pick-latest SCD2 shape: many ~4-row groups
        val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey", row_number().over(w).as("rn"))
      }),
      "winrank-hot" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        // 3 giant partitions, tie-prone order key: rank + dense_rank
        // peer detection + row_number in one node
        val w = Window.partitionBy($"l_returnflag").orderBy($"l_shipdate")
        val wu = Window.partitionBy($"l_returnflag")
          .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_returnflag", rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"), row_number().over(wu).as("rn"))
      }),
      // sliding ROWS frames (the window ring loop and its O(n) kernels
      // vs the row WindowExec's whole-group buffer +
      // SlidingWindowFunctionFrame)
      "winslide-ma3" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey",
            avg($"l_quantity").over(w.rowsBetween(-2, 0)).as("ma3"))
      }),
      "winslide-hot" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        // 3 giant partitions, centered frame, 3 aggs in one node
        val w = Window.partitionBy($"l_returnflag")
          .orderBy($"l_orderkey", $"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_returnflag",
            sum($"l_extendedprice").over(w.rowsBetween(-1, 1)).as("cs"),
            min($"l_quantity").over(w.rowsBetween(-2, 2)).as("mn"),
            max($"l_quantity").over(w.rowsBetween(-2, 2)).as("mx"))
      }),
      "winrange-wide" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        // near-tie-free wide value window (~1k rows per frame: ~0.33
        // rows per orderkey unit within a returnflag partition) over 3
        // hot partitions: the incremental RANGE kernels (add/subtract +
        // min deque) vs evalSlice's O(frame) rescan per emission — the
        // tie cache can't help here (nearly every row starts a new
        // frame)
        val w = Window.partitionBy($"l_returnflag").orderBy($"l_orderkey")
          .rangeBetween(-3000, 0)
        Tables.t(spark, sfDir, "lineitem")
          .withColumn("qty_l", $"l_quantity".cast("long"))
          .select($"l_returnflag",
            sum($"qty_l").over(w).as("rs"),
            count($"qty_l").over(w).as("c"),
            min($"l_extendedprice").over(w).as("mn"))
      }),
      "winslide-wide1k" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        // 1,000-row rolling frames over 3 hot partitions: the O(n)
        // invertible kernels (sum add/subtract + min deque) vs the row
        // WindowExec's O(n·frame) SlidingWindowFunctionFrame — the
        // asymptotic win shape (frame 1000x the per-row work on the
        // row path)
        val w = Window.partitionBy($"l_returnflag")
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey")
        Tables.t(spark, sfDir, "lineitem")
          .withColumn("qty_l", $"l_quantity".cast("long"))
          .select($"l_returnflag",
            sum($"qty_l").over(w.rowsBetween(-999, 0)).as("rs"),
            min($"l_extendedprice").over(w.rowsBetween(-999, 0)).as("mn"),
            count($"qty_l").over(w.rowsBetween(-999, 0)).as("c"))
      }),
      // first/last/nth boxed lane (forward-fill shape)
      "winfl-ffill" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey",
            last(when($"l_quantity" >= 10, $"l_extendedprice"),
              ignoreNulls = true).over(w).as("ffill"),
            first($"l_returnflag").over(w).as("ff"))
      }),
      // sliding RANGE frames (value-bounded ring vs the row WindowExec)
      "winrange-7u" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        // 7-unit trailing sum per order (many ~4-row groups)
        val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber")
          .rangeBetween(-7, 0)
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey", sum($"l_quantity").over(w).as("s7"))
      }),
      "winrange-hot" -> (() => {
        import org.apache.spark.sql.functions._
        // 3 giant partitions, hour-wide interval window over shipdate
        val frame = "(PARTITION BY l_returnflag ORDER BY l_shipdate RANGE " +
          "BETWEEN INTERVAL '24' HOUR PRECEDING AND CURRENT ROW)"
        Tables.t(spark, sfDir, "lineitem")
          .selectExpr("l_returnflag",
            s"count(1) OVER $frame AS c",
            s"sum(l_quantity) OVER $frame AS s")
      }),
      // mixed node: ranking + offsets + running agg (the SCD2 shape,
      // snapshot machine) — previously whole-node row fallback
      "winmix-scd2" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey",
            row_number().over(w).as("version"),
            lead($"l_shipdate", 1).over(w).as("valid_to"),
            sum($"l_quantity").over(w.rowsBetween(
              Window.unboundedPreceding, Window.currentRow)).as("cum"))
      }),
      // MIXED evaluation kinds in one spec (streaming running sum +
      // row_number + lag, and two default-RANGE deferred aggs): the
      // splitter chains two homogeneous graft nodes over the one sort
      // vs the row exec's single node computing all five frames
      "winmix-kinds" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_returnflag")
          .orderBy($"l_orderkey", $"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_returnflag",
            sum($"l_partkey").over(w.rowsBetween(
              Window.unboundedPreceding, Window.currentRow)).as("rs"),
            row_number().over(w).as("rn"),
            lag($"l_orderkey", 1).over(w).as("lo"),
            sum($"l_suppkey").over(w).as("ds"),
            count(lit(1)).over(w).as("dn"))
      }),
      // SUFFIX frames: the row exec's UnboundedFollowingWindowFunction-
      // Frame recomputes per row (O(n^2) per partition) vs the
      // block-combined O(n) face. ~600-row partitions keep the row side
      // feasible; the gap widens quadratically with partition size
      "winsuf-remaining" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_suppkey").orderBy($"l_orderkey", $"l_linenumber")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_suppkey",
            sum($"l_partkey").over(w).as("remaining"),
            count(lit(1)).over(w).as("n_ahead"),
            min($"l_orderkey").over(w).as("min_ahead"))
      }),
      // ~60k-row hot partitions: the row side is O(n^2) here — this
      // shape is where the asymptotic win shows (bounded by timeIt's
      // min-of-5, still minutes on the row path at sf0.1; sf0.01 keeps
      // the A/B practical)
      "winsuf-hot" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_returnflag").orderBy($"l_orderkey", $"l_linenumber")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_returnflag",
            sum($"l_partkey").over(w).as("remaining"),
            count(lit(1)).over(w).as("n_ahead"))
      }),
      // fn-10 (last) + fn-9 backfill on the suffix face: pass-1 holds
      // UNBOXED primitive lanes for long/double inputs (one slot per
      // spec instead of a box per input row); ~600-row partitions keep
      // the row side's O(n^2) recompute feasible
      "winsuf-bfill" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_suppkey").orderBy($"l_orderkey", $"l_linenumber")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_suppkey",
            last($"l_partkey").over(w).as("part_at_end"),
            first(when($"l_quantity" < 10, $"l_orderkey"), ignoreNulls = true)
              .over(w).as("bfill_small"))
      }),
      // size-based functions (partition-buffered face): kind-0 node —
      // ntile/percent_rank/rank over 3 giant partitions (the row exec
      // buffers the same partitions; the win is the single streaming
      // emission cursor vs per-function frame walks)
      "winsize-ntile" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_returnflag")
          .orderBy($"l_orderkey", $"l_linenumber")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_returnflag", ntile(10).over(w).as("dec"),
            percent_rank().over(w).as("pr"), rank().over(w).as("rk"))
      }),
      // kind-1 node: cume_dist + RANGE-running aggs (peer-scout cursor
      // over the tied l_quantity order — ~50 fat peer groups)
      "winsize-cume" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_returnflag", cume_dist().over(w).as("cd"),
            sum($"l_extendedprice").over(w).as("s"),
            count(lit(1)).over(w).as("n"))
      }),
      // 6 functions over one pass (q176's shape)
      "winagg-6fn" -> (() => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey",
            sum($"l_quantity").over(w).as("sq"),
            count($"l_quantity").over(w).as("cq"),
            sum($"l_partkey").over(w).as("sp"),
            min($"l_extendedprice").over(w).as("mn"),
            max($"l_extendedprice").over(w).as("mx"),
            avg($"l_discount").over(w).as("ad"))
      }))
    sel(winShapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.windowAggEnabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.windowAggEnabledKey, "true")
      val on = timeIt(f)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }

    // Staged string-keyed fact table (the fixture's lineitem carries no
    // high-cardinality string): ~6k distinct synthetic keys over the
    // full lineitem row count, written to parquet once so the stream is
    // a real columnar scan.
    lazy val strPath: String = {
      import org.apache.spark.sql.functions._
      val p = s"/tmp/graft_micro_str/${java.util.UUID.randomUUID()}"
      Tables.t(spark, sfDir, "lineitem")
        .withColumn("sk", concat($"l_returnflag", $"l_linestatus", lit("_"),
          ($"l_orderkey" % 1000).cast("string")))
        .select($"sk", $"l_orderkey", $"l_extendedprice")
        .write.mode("overwrite").parquet(p)
      p
    }

    // STRING-key semi/anti probe A/B (UnsafeHashedRelation probed with a
    // 1-field UnsafeRow vs Spark's codegen row BHJ); the dim keeps ~half
    // the keys so both emit and skip paths are exercised.
    val semiStrShapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "bhj-semi-str" -> (() => {
        import org.apache.spark.sql.functions._
        val dim = spark.read.parquet(strPath).select($"sk").distinct()
          .filter(xxhash64($"sk") % 2 === 0).withColumnRenamed("sk", "dk")
        spark.read.parquet(strPath)
          .join(broadcast(dim), $"sk" === $"dk", "left_semi")
      }),
      "bhj-anti-str" -> (() => {
        import org.apache.spark.sql.functions._
        val dim = spark.read.parquet(strPath).select($"sk").distinct()
          .filter(xxhash64($"sk") % 2 === 0).withColumnRenamed("sk", "dk")
        spark.read.parquet(strPath)
          .join(broadcast(dim), $"sk" === $"dk", "left_anti")
      }))
    sel(semiStrShapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.semiBhjEnabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.semiBhjEnabledKey, "true")
      val on = timeIt(f)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }

    // Columnar sort A/B: ColumnarToRow + Tungsten SortExec vs the typed
    // index sort + gather on the narrow shapes it serves.
    // sortWithinPartitions keeps the sort directly over the columnar scan
    // (a global orderBy hides behind a range exchange and never swaps).
    val sortShapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "sort-narrow-3col" -> (() =>
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey", $"l_extendedprice", $"l_quantity")
          .sortWithinPartitions($"l_extendedprice".desc)),
      "sort-narrow-1col" -> (() =>
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey")
          .sortWithinPartitions($"l_orderkey")),
      "sort-narrow-4col-2key" -> (() =>
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey", $"l_extendedprice", $"l_quantity", $"l_discount")
          .sortWithinPartitions($"l_quantity", $"l_extendedprice".desc)),
      // Decimal64 key on the unscaled-long lane (narrow default surface)
      "sort-narrow-dec" -> (() =>
        Tables.t(spark, sfDir, "lineitem")
          .select($"l_orderkey",
            $"l_extendedprice".cast("decimal(12,2)").as("price"))
          .sortWithinPartitions($"price".desc, $"l_orderkey")))
    sel(sortShapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.narrowSortEnabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.narrowSortEnabledKey, "true")
      val on = timeIt(f)
      spark.conf.unset(GraftColumnarRule.narrowSortEnabledKey)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }

    // Shuffled semi/anti probe over a bucketed stream (vs the row SHJ on
    // the same layout: stream joins in place, only the dim shuffles)
    val bktTbl = "micro_li_bkt"
    if (!spark.catalog.tableExists(bktTbl)) {
      Tables.t(spark, sfDir, "lineitem").repartition(8, $"l_orderkey")
        .write.format("parquet").bucketBy(8, "l_orderkey")
        .option("path", s"/tmp/graft_micro_bkt/${java.util.UUID.randomUUID()}")
        .mode("overwrite").saveAsTable(bktTbl)
    }
    val shjShapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "shj-semi-bkt" -> (() => {
        import org.apache.spark.sql.functions._
        val dim = Tables.t(spark, sfDir, "orders")
          .filter($"o_orderpriority".startsWith("1"))
          .select($"o_orderkey").hint("shuffle_hash")
        spark.table(bktTbl).join(dim, $"l_orderkey" === $"o_orderkey", "left_semi")
      }),
      "shj-anti-bkt" -> (() => {
        import org.apache.spark.sql.functions._
        val dim = Tables.t(spark, sfDir, "orders")
          .filter($"o_orderpriority".startsWith("1"))
          .select($"o_orderkey").hint("shuffle_hash")
        spark.table(bktTbl).join(dim, $"l_orderkey" === $"o_orderkey", "left_anti")
      }))
    sel(shjShapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.shjEnabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.shjEnabledKey, "true")
      val on = timeIt(f)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }

    // INNER shuffled probe over the same bucketed stream (build output:
    // one string + one double column — the materialization cost under test)
    val shjInnerShapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "shj-inner-bkt" -> (() => {
        import org.apache.spark.sql.functions._
        val dim = Tables.t(spark, sfDir, "orders")
          .filter($"o_orderpriority".startsWith("1"))
          .select($"o_orderkey", $"o_orderpriority", $"o_totalprice").hint("shuffle_hash")
        spark.table(bktTbl).join(dim, $"l_orderkey" === $"o_orderkey")
      }),
      "shj-louter-bkt" -> (() => {
        import org.apache.spark.sql.functions._
        val dim = Tables.t(spark, sfDir, "orders")
          .filter($"o_orderpriority".startsWith("1"))
          .select($"o_orderkey", $"o_orderpriority", $"o_totalprice").hint("shuffle_hash")
        spark.table(bktTbl).join(dim, $"l_orderkey" === $"o_orderkey", "left_outer")
      }),
      // build-outer variants: the probe adds a matched-key BitSet and
      // an end-of-stream sweep (unsafe-relation path even for packed
      // keys — the row SHJ pays the same under SPARK-36612)
      "shj-router-bkt" -> (() => {
        import org.apache.spark.sql.functions._
        val dim = Tables.t(spark, sfDir, "orders")
          .filter($"o_orderpriority".startsWith("1"))
          .select($"o_orderkey", $"o_orderpriority", $"o_totalprice").hint("shuffle_hash")
        spark.table(bktTbl).join(dim, $"l_orderkey" === $"o_orderkey", "right_outer")
      }),
      "shj-fouter-bkt" -> (() => {
        import org.apache.spark.sql.functions._
        val dim = Tables.t(spark, sfDir, "orders")
          .filter($"o_orderpriority".startsWith("1"))
          .select($"o_orderkey", $"o_orderpriority", $"o_totalprice").hint("shuffle_hash")
        spark.table(bktTbl).join(dim, $"l_orderkey" === $"o_orderkey", "full_outer")
      }))
    sel(shjInnerShapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.innerShjEnabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.innerShjEnabledKey, "true")
      val on = timeIt(f)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }

    // Array-fold A/B: the embedding lambda shapes (aggregate/zip_with/
    // transform/element_at) through ArrayFoldD/ElemAtD vs Catalyst's
    // CodegenFallback HigherOrderFunctions (boxed AtomicReference per
    // element). The 2k-row embeddings fixture is amplified 400x so each
    // lane folds ~51M elements (64-dim).
    val foldBase = {
      import org.apache.spark.sql.functions._
      Tables.t(spark, sfDir, "embeddings")
        .crossJoin(spark.range(400)).select($"vec_id", $"id", $"embedding")
    }
    val foldShapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "fold-sumsq" -> (() => {
        import org.apache.spark.sql.functions._
        foldBase.select($"vec_id", $"id",
          sqrt(aggregate(transform($"embedding", x => x.cast("double")),
            lit(0.0), (acc, x) => acc + x * x)).as("l2"))
      }),
      "fold-dot-zip" -> (() => {
        import org.apache.spark.sql.functions._
        def asD(c: org.apache.spark.sql.Column) = transform(c, x => x.cast("double"))
        foldBase.select($"vec_id", $"id",
          aggregate(zip_with(asD($"embedding"), asD($"embedding"), (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x).as("dot"))
      }),
      "fold-elemat" -> (() => {
        import org.apache.spark.sql.functions._
        def asD(c: org.apache.spark.sql.Column) = transform(c, x => x.cast("double"))
        foldBase.select($"vec_id", $"id",
          element_at(asD($"embedding"), 1).as("e1"),
          element_at(asD($"embedding"), 32).as("e32"),
          element_at(asD($"embedding"), 64).as("e64"))
      }),
      // split → array<string> (the q126/q152 tokenize shape): per-row
      // UTF8String.split either way; the columnar lane buys batch
      // continuity, the A/B checks the vector materialization is free
      "fold-split-tok" -> (() => {
        import org.apache.spark.sql.functions._
        Tables.t(spark, sfDir, "documents")
          .select($"doc_id", split($"text", " ").as("ws"))
      }),
      // the real q71 composite: folds + element_at + scalar math in one
      // project — the batch stays columnar end to end
      "fold-q71-mix" -> (() => {
        import org.apache.spark.sql.functions._
        def asD(c: org.apache.spark.sql.Column) = transform(c, x => x.cast("double"))
        val n2 = aggregate(asD($"embedding"), lit(0.0), (acc, x) => acc + x * x)
        foldBase.withColumn("norm", sqrt(n2))
          .select($"vec_id", $"id",
            round($"norm", 6).as("l2"),
            round(element_at(asD($"embedding"), 1) / $"norm", 6).as("u1"),
            round(element_at(asD($"embedding"), 2) / $"norm", 6).as("u2"))
      }))
    sel(foldShapes).foreach { case (name, f) =>
      spark.conf.set(GraftColumnarRule.enabledKey, "false")
      val off = timeIt(f)
      spark.conf.set(GraftColumnarRule.enabledKey, "true")
      val on = timeIt(f)
      println(f"MICRO $name%-14s row=$off%.3fs columnar=$on%.3fs ratio=${on / off}%.2f")
    }
    spark.stop()
  }
}
