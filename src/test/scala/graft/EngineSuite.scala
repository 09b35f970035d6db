package graft

import org.apache.spark.sql.functions._
import graft.engine.{MinHashAggregator, PlanAuditRule}

/** Unit tests for the custom engine layer: the codegen expression (both
  * eval paths), the typed UDAF's algebraic laws, and the plan-audit
  * counters.
  */
class EngineSuite extends GraftTestBase {
  import GraftTestBase.spark.implicits._

  private def cosRows(codegen: Boolean): Seq[Option[Double]] =
    withSQLConf("spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")) {
      Seq(
        (Array(1f, 0f), Array(1f, 0f)),     // identical → 1.0
        (Array(1f, 0f), Array(0f, 1f)),     // orthogonal → 0.0
        (Array(1f, 2f), Array(-1f, -2f)),   // opposite → -1.0
        (Array(0f, 0f), Array(1f, 1f)))     // zero vector → null
        .toDF("a", "b")
        .select(expr("cosine_sim(a, b)").as("c"))
        .collect().toSeq
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    }

  test("cosine_sim: codegen and interpreted paths agree on boundary vectors") {
    val cg = cosRows(codegen = true)
    val in = cosRows(codegen = false)
    assert(cg == in, s"codegen=$cg interpreted=$in")
    assert(cg(0).exists(c => math.abs(c - 1.0) < 1e-12))
    assert(cg(1).contains(0.0))
    assert(cg(2).exists(c => math.abs(c + 1.0) < 1e-12))
    assert(cg(3).isEmpty)
  }

  test("cosine_sim: null and length-mismatch inputs → null") {
    val r = spark.sql(
      """SELECT cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))),
                cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))""")
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("MinHashAggregator: merge is commutative, reduce matches merge") {
    val a = Array.tabulate(MinHashAggregator.K)(i => (i * 7 + 3).toLong)
    val b = Array.tabulate(MinHashAggregator.K)(i => (i * 5 + 11).toLong)
    val m1 = MinHashAggregator.merge(a.clone(), b.clone()).toSeq
    val m2 = MinHashAggregator.merge(b.clone(), a.clone()).toSeq
    assert(m1 == m2)
    val r = MinHashAggregator.reduce(MinHashAggregator.zero, a).toSeq
    assert(r == a.toSeq)
  }

  test("MinHashAggregator end-to-end: group sketch equals min of row sketches") {
    val mh = udaf(MinHashAggregator)
    val df = Seq(
      ("g1", Array.tabulate(32)(i => (i + 10).toLong)),
      ("g1", Array.tabulate(32)(i => (40 - i).toLong)),
      ("g2", Array.tabulate(32)(_ => 5L)))
      .toDF("g", "sig")
    val out = df.groupBy($"g").agg(mh($"sig").as("sketch"))
      .orderBy($"g").collect()
    val g1 = out(0).getSeq[Long](1)
    assert(g1 == (0 until 32).map(i => math.min(i + 10, 40 - i).toLong))
    assert(out(1).getSeq[Long](1).forall(_ == 5L))
  }

  test("custom operators surface SQLMetrics (GraftTopKExec heap phases)") {
    val df = org.apache.spark.sql.graft.GraftTopK.topK(
      Tables.t(spark, sfDir, "orders").select($"o_orderkey", $"o_totalprice"),
      5, $"o_totalprice".desc)
    val rows = df.collect()
    assert(rows.length == 5)
    val exec = df.queryExecution.executedPlan.collectFirst {
      case e: org.apache.spark.sql.graft.GraftTopKExec => e
    }.get
    val nOrders = Tables.t(spark, sfDir, "orders").count()
    assert(exec.metrics("numInputRows").value == nOrders)
    assert(exec.metrics("numOutputRows").value == 5)
    // the merge phase sees at most k rows per upstream partition
    assert(exec.metrics("numMergeRows").value <= 5L * 4)
  }

  test("GraftColumnarSelectExec surfaces batch/row SQLMetrics") {
    val df = Tables.t(spark, sfDir, "supplier")
      .select($"s_name", $"s_suppkey")
    df.collect()
    // AQE: the swap happens inside the final query stage
    val exec = df.queryExecution.executedPlan.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collectFirst {
          case e: org.apache.spark.sql.graft.GraftColumnarSelectExec => e }
    }.flatten.orElse(df.queryExecution.executedPlan.collectFirst {
      case e: org.apache.spark.sql.graft.GraftColumnarSelectExec => e
    })
    assert(exec.isDefined, s"columnar swap missing:\n${df.queryExecution.executedPlan}")
    val n = Tables.t(spark, sfDir, "supplier").count()
    assert(exec.get.metrics("numOutputRows").value == n)
    assert(exec.get.metrics("numBatches").value >= 1)
  }

  test("PlanAuditRule records planned operators") {
    PlanAuditRule.reset()
    Tables.t(spark, sfDir, "region").groupBy("r_name").count().collect()
    val snap = PlanAuditRule.snapshot
    // both agg stages may have swapped to Graft columnar nodes
    assert(snap.keys.exists(k => k.toLowerCase.contains("aggregate") ||
      k.contains("GraftColumnarGroupedAgg") || k.contains("GraftColumnarFinalAgg")),
      s"snapshot=$snap")
    assert(PlanAuditRule.cartesianCount == 0)
  }

  /** Finds an operator inside the (possibly AQE-wrapped) executed plan,
    * descending into materialized query stages (leaves to collect()). */
  private def findExec[T](df: org.apache.spark.sql.DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Option[T] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def deep(n: SparkPlan): Option[T] = n match {
      case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
      case q: QueryStageExec => deep(q.plan)
      case other =>
        (if (pf.isDefinedAt(other)) Some(pf(other)) else None)
          .orElse(other.children.view.flatMap(deep).headOption)
    }
    deep(df.queryExecution.executedPlan)
  }

  test("GraftColumnarFilterExec: Kleene null semantics match SQL three-valued logic") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colfilter").toString
    Seq(
      (1, Option("alpha"), Option(1.5), Option(true)),
      (2, Option.empty[String], Option(0.5), Option(false)),
      (3, Option("beta"), Option.empty[Double], Option.empty[Boolean]),
      (4, Option("web-x"), Option(2.5), Option.empty[Boolean]),
      (5, Option.empty[String], Option.empty[Double], Option(true)))
      .toDF("id", "s", "x", "b").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Int] = {
      val got = df.select($"id").collect().map(_.getInt(0)).toSet
      // every one of these predicates must have taken the columnar path
      assert(findExec(df) {
        case e: org.apache.spark.sql.graft.GraftColumnarFilterExec => e
      }.isDefined, s"expected columnar filter in:\n${df.queryExecution.executedPlan}")
      got
    }
    assert(ids(t.filter($"x" > 1.0 || $"s" === "alpha")) == Set(1, 4)) // N∨F=N drops, T wins
    assert(ids(t.filter(!($"x" > 1.0))) == Set(2))                     // ¬N=N drops
    assert(ids(t.filter($"x" > 0.0 && $"b")) == Set(1))                // T∧N=N, T∧F=F drop
    assert(ids(t.filter($"b")) == Set(1, 5))                           // bare boolean column
    assert(ids(t.filter($"s".isNull)) == Set(2, 5))
    assert(ids(t.filter($"s".startsWith("web"))) == Set(4))
    assert(ids(t.filter($"s" >= "b" && $"s" <= "c")) == Set(3))        // string range
    assert(ids(t.filter($"s".isin("alpha", "web-x"))) == Set(1, 4))    // string IN (null → NULL, drops)
    assert(ids(t.filter($"id".isin(2, 4, 99))) == Set(2, 4))           // long-family IN
    assert(ids(t.filter(!$"id".isin(2, 4))) == Set(1, 3, 5))           // NOT IN over non-null col
    // > inSetConversionThreshold(10) elements → Catalyst rewrites to InSet
    assert(ids(t.filter($"id".isin(1 to 12: _*))) == Set(1, 2, 3, 4, 5))
  }

  test("filter null-chain: double Divide is NULL on a zero divisor in every eval mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft-divnull").toString
    Seq(
      (1, Option(10.0), Option(2.0)),
      (2, Option(10.0), Option(0.0)), // non-null inputs, NULL quotient
      (3, Option.empty[Double], Option(2.0)),
      (4, Option(10.0), Option.empty[Double]),
      (5, Option(0.0), Option(0.0))) // 0/0 is NULL too (not NaN) under DivModLike
      .toDF("id", "x", "y").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.select($"id").collect().map(_.getInt(0)).toSet
    // Spark's Divide (DivModLike) yields NULL on a zero divisor in
    // LEGACY/TRY mode — NOT IEEE ±Inf/NaN — so isnull(x/y) must keep
    // rows 2 and 5 even though both inputs are non-null. A null-chain
    // rewrite to isnull(x) OR isnull(y) would drop them (the r13 ADVICE
    // defect). Under ANSI the row path throws instead, so the LEGACY
    // pin is the discriminating one.
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      assert(ids(t.filter(($"x" / $"y").isNull)) == Set(2, 3, 4, 5))
      assert(ids(t.filter(($"x" / $"y").isNotNull)) == Set(1))
      checkInvariantUnder(t.filter(($"x" / $"y").isNotNull),
        Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
      // a zero LITERAL divisor nulls every row — also outside the chain
      assert(ids(t.filter(($"x" / lit(0.0)).isNull)) == Set(1, 2, 3, 4, 5))
      // a provably non-zero literal divisor IS a null-chain and still swaps
      val litDiv = t.filter(($"x" / lit(2.0)).isNull)
      assert(ids(litDiv) == Set(3))
      assert(findExec(litDiv) {
        case e: org.apache.spark.sql.graft.GraftColumnarFilterExec => e
      }.isDefined, s"literal-divisor null-chain must stay columnar:\n${
        litDiv.queryExecution.executedPlan}")
    }
  }

  test("GraftColumnarFilterExec: computed string operands compile through the kernel language") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colfilter-str").toString
    Seq(
      (1L, Option("Alpha"), Option("alp")), (2L, Option(" beta "), Option("bet")),
      (3L, Option.empty[String], Option("xx")), (4L, Option("Γράφω"), Option.empty[String]),
      (5L, Option("web-x"), Option("web")))
      .toDF("id", "s", "p").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      val got = df.select($"id").collect().map(_.getLong(0)).toSet
      assert(findExec(df) {
        case e: org.apache.spark.sql.graft.GraftColumnarFilterExec => e
      }.isDefined, s"expected columnar filter in:\n${df.queryExecution.executedPlan}")
      got
    }
    def rowIds(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      // gated-off shapes: must stay on the row path (tagged), values exact
      df.collect()
      assert(findExec(df) {
        case e: org.apache.spark.sql.graft.GraftColumnarFilterExec => e
      }.isEmpty, s"allocating compare must stay row:\n${df.queryExecution.executedPlan}")
      df.select($"id").collect().map(_.getLong(0)).toSet
    }
    // allocation-free view compositions swap: substring/trim over columns;
    // row 2's " beta " keeps its leading space — no match
    assert(ids(t.filter(substring($"s", 1, 3) === substring($"p", 1, 3))) == Set(5))
    assert(ids(t.filter(substring(trim($"s"), 1, 3) === $"p")) == Set(2, 5))
    assert(ids(t.filter(trim($"s") < "x")) == Set(1, 2, 5)) // "γράφω" (0xCE..) > "x" binary
    // allocation-bearing cheap kernels (upper/lower/concat) are gated OFF
    // the swap (measured 1.05-1.09x vs codegen) but stay value-correct
    assert(rowIds(t.filter(substring(lower($"s"), 1, 3) === $"p")) == Set(1, 5))
    assert(rowIds(t.filter(upper(trim($"s")) === "BETA")) == Set(2))
    assert(rowIds(t.filter(concat(lower(substring($"s", 1, 1)), lit("!")) === "w!")) == Set(5))
    // the q109 hash-threshold sampling shape: substring(md5(cast(id)),1,n)
    // — md5 anywhere makes the swap worth it (hash dominates)
    val sampled = t.filter(substring(md5($"id".cast("string")), 1, 2) < "80")
    val gotSample = ids(sampled)
    val want = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      t.filter(substring(md5($"id".cast("string")), 1, 2) < "80")
        .select($"id").collect().map(_.getLong(0)).toSet
    }
    assert(gotSample == want, s"md5 kernel diverged: columnar=$gotSample row=$want")
    // null operands stay three-valued: null md5 input row (id=3 has null s)
    assert(ids(t.filter(substring(md5($"s"), 1, 32) === md5($"s"))) == Set(1, 2, 4, 5))
  }

  test("GraftColumnarFilterExec surfaces input/output row SQLMetrics") {
    val docs = Tables.t(spark, sfDir, "documents")
    val df = docs.filter($"lang" === "en" && $"n_chars" > 100L)
    val expected = df.count()
    df.collect()
    val exec = findExec(df) { case e: org.apache.spark.sql.graft.GraftColumnarFilterExec => e }
    assert(exec.isDefined, s"columnar filter swap missing:\n${df.queryExecution.executedPlan}")
    assert(exec.get.metrics("numInputRows").value == docs.count())
    assert(exec.get.metrics("numOutputRows").value == expected)
    assert(exec.get.metrics("numBatches").value >= 1)
  }

  test("GraftColumnarPartialAgg matches the row path on nulls/NaN/empty edges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colagg").toString
    Seq(
      (1, Option(2.5), Option(1.0f), Option("bb"), Option(10L)),
      (2, Option(Double.NaN), Option.empty[Float], Option("aa"), Option(-5L)),
      (3, Option.empty[Double], Option(Float.NaN), Option.empty[String], Option(Long.MaxValue)),
      (4, Option(-0.0), Option(2.5f), Option("cc"), Option.empty[Long]))
      .toDF("id", "d", "f", "s", "l").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def agg(df: org.apache.spark.sql.DataFrame) = df.agg(
      count(lit(1)), count($"d"), sum($"d"), sum($"f"), avg($"d"), avg($"l"),
      min($"d"), max($"d"), min($"f"), max($"f"), min($"s"), max($"s"),
      min($"l"), max($"l"))
    def both(df: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
      val cdf = agg(df)
      val on = canon(cdf)
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.graft.GraftColumnarPartialAggExec => e
      }.isDefined, s"expected columnar agg in:\n${cdf.queryExecution.executedPlan}")
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
        canon(agg(df))
      }
      (on, off)
    }
    val (on1, off1) = both(t)
    assert(on1 == off1, s"columnar=$on1 row=$off1")
    // empty input after a filter: partials must emit initial buffers
    val (on2, off2) = both(t.filter($"id" > 100))
    assert(on2 == off2, s"empty-input columnar=$on2 row=$off2")
  }

  test("columnar agg/sort buffers register with the task memory manager and release at task end") {
    // The reference bridges native allocations into Spark's task memory
    // manager (CometTaskMemoryManager / CometExecIterator.getMemoryConfig);
    // the graft twin is GraftMemoryReservation: grouped-agg hash state and
    // sort column buffers acquire execution memory as they grow and free
    // it on task completion — so Tungsten consumers on the same executor
    // see the pressure, and vice versa.
    import org.apache.spark.sql.graft.GraftMemoryReservation.{currentReserved, peakReserved}
    val dir = java.nio.file.Files.createTempDirectory("graft-memres").toString
    (1 to 5000).map(i => (i.toLong, s"k${i % 97}", i * 1.5))
      .toDF("id", "k", "v").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)

    currentReserved.set(0L); peakReserved.set(0L)
    val agg = t.groupBy($"k").agg(sum($"v").as("sv"), count(lit(1)).as("n"))
    agg.collect()
    assert(findExec(agg) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isDefined, "expected the columnar grouped agg in the plan")
    assert(peakReserved.get() > 0L,
      "grouped agg executed without reserving any task memory")
    assert(currentReserved.get() == 0L,
      s"grouped agg leaked ${currentReserved.get()} reserved bytes past task end")

    currentReserved.set(0L); peakReserved.set(0L)
    val srt = t.select($"id", $"v").sortWithinPartitions($"v", $"id")
    srt.collect()
    assert(findExec(srt) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarSortExec => e
    }.isDefined, "expected the columnar sort in the plan")
    assert(peakReserved.get() > 0L,
      "columnar sort executed without reserving any task memory")
    assert(currentReserved.get() == 0L,
      s"columnar sort leaked ${currentReserved.get()} reserved bytes past task end")
  }

  test("columnar sort swaps above a columnar join probe (spill makes it partition-size-safe)") {
    // A columnar join probe's output is not bounded by one scan split;
    // the sort kernel is still safe to swap because it spills sorted
    // runs to disk under memory pressure / past its byte threshold
    // (previously this shape was gate-refused as a no-spill hazard).
    import org.apache.spark.sql.graft.GraftColumnarRule
    val li = Tables.t(spark, sfDir, "lineitem")
    val keys = Tables.t(spark, sfDir, "orders").select($"o_orderkey")
    def q() = li.join(broadcast(keys), li("l_orderkey") === keys("o_orderkey"), "left_semi")
      .select($"l_orderkey", $"l_quantity")
      .sortWithinPartitions($"l_quantity", $"l_orderkey")
    val df = q()
    val on = df.collect()
    assert(findExec(df) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarSortExec => e
    }.isDefined, s"columnar sort should swap above the semi probe:\n${df.queryExecution.executedPlan}")
    val off = withSQLConf(GraftColumnarRule.narrowSortEnabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq, "columnar sort above a join probe diverged from the row sort")
  }

  test("columnar sort spills sorted runs past the threshold and merges them correctly") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.execution.graft.GraftColumnarSortExec
    val dir = java.nio.file.Files.createTempDirectory("graft-sortspill").toString
    // unique (k, id) total key -> deterministic order on both paths;
    // longs + doubles + nulls exercise every run-serialization lane
    (1 to 20000).map { i =>
      (if (i % 7 == 0) None else Some((i % 613).toLong - 300L),
        i.toLong, if (i % 11 == 0) None else Some(i * 1.25 - 9999))
    }.toDF("k", "id", "v").repartition(1).write.mode("overwrite").parquet(dir)
    // several orderings exercise every merge-comparator lane: long
    // desc + nulls-first primary, double asc + nulls-last primary with a
    // desc long secondary, and a long primary with tie runs
    val orderings: Seq[(String, Seq[org.apache.spark.sql.Column])] = Seq(
      "long-desc-nf" -> Seq($"k".desc_nulls_first, $"id"),
      "double-asc-nl-longsec" -> Seq($"v".asc_nulls_last, $"k".desc, $"id"),
      "long-ties-desc-sec" -> Seq($"k".asc_nulls_last, $"id".desc))
    for ((label, keys) <- orderings) {
      def qq() = spark.read.parquet(dir).sortWithinPartitions(keys: _*)
      val spilled = withSQLConf(GraftColumnarSortExec.spillThresholdKey -> "65536") {
        val df = qq()
        val rows = df.collect()
        val exec = findExec(df) {
          case e: org.apache.spark.sql.execution.graft.GraftColumnarSortExec => e
        }
        assert(exec.isDefined, s"$label: expected the columnar sort in the plan:\n${df.queryExecution.executedPlan}")
        assert(exec.get.metrics("spillCount").value > 0,
          s"$label: the 64 KiB threshold must force at least one spilled run")
        assert(exec.get.metrics("spillBytes").value > 0)
        rows
      }
      val row = withSQLConf(GraftColumnarRule.narrowSortEnabledKey -> "false") { qq().collect() }
      assert(spilled.toSeq == row.toSeq, s"$label: spill-merge diverged from the row sort")
    }
  }

  test("columnar sort multi-pass merge: run count above the fan-in cap stays correct") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.execution.graft.GraftColumnarSortExec
    val dir = java.nio.file.Files.createTempDirectory("graft-sortfanin").toString
    (1 to 300000).map { i =>
      (if (i % 5 == 0) None else Some((i % 811).toLong), i.toLong, i * 0.75 - 123)
    }.toDF("k", "id", "v").repartition(1).write.mode("overwrite").parquet(dir)
    def qq() = spark.read.parquet(dir)
      .sortWithinPartitions($"k".desc_nulls_first, $"v".asc, $"id")
    // spills trigger at most once per input batch (~4096 scan rows), so
    // 300k rows in one partition under a 4 KiB threshold → ~73 runs,
    // above the 64-run fan-in cap → the intermediate mergeSpillGroup
    // pass must run; parity vs the row sort proves the re-serialized
    // intermediate format round-trips every lane
    val spilled = withSQLConf(GraftColumnarSortExec.spillThresholdKey -> "4096") {
      val df = qq()
      val rows = df.collect()
      val exec = findExec(df) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarSortExec => e
      }
      assert(exec.isDefined)
      val runCount = exec.get.metrics("spillCount").value
      assert(runCount > GraftColumnarSortExec.mergeFanIn,
        s"need > ${GraftColumnarSortExec.mergeFanIn} runs to exercise the multi-pass merge, got $runCount")
      rows
    }
    val row = withSQLConf(GraftColumnarRule.narrowSortEnabledKey -> "false") { qq().collect() }
    assert(spilled.toSeq == row.toSeq, "multi-pass spill merge diverged from the row sort")
  }

  test("columnar window agg: running ROWS frame parity vs the row WindowExec") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winagg").toString
    val rnd = new scala.util.Random(7)
    // k: 7 long groups incl. a NULL group (nulls are one partition);
    // one hot key (k=1) carries most rows so its group spans multiple
    // 4096-row batches — the cross-batch carry must hold the boundary.
    // vl: nullable ints (sum→long, count skips nulls); vd: nullable
    // doubles incl. NaN (row Min/Max order NaN greatest); vf: floats.
    (1 to 50000).map { i =>
      val k = if (i % 13 == 0) None else Some(if (i % 3 != 0) 1L else (i % 7).toLong)
      val vl = if (i % 11 == 0) None else Some(i % 1000 - 500)
      val vd =
        if (i % 17 == 0) None
        else if (i % 23 == 0) Some(Double.NaN)
        else Some(rnd.nextDouble() * 200 - 100)
      val vf = if (i % 19 == 0) None else Some((i % 77).toFloat / 7f)
      (k, i.toLong, vl, vd, vf)
    }.toDF("k", "o", "vl", "vd", "vf")
      .repartition(1).write.mode("overwrite").parquet(dir)
    def qq() = {
      val s = spark
      import s.implicits._
      val w = Window.partitionBy($"k").orderBy($"o")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spark.read.parquet(dir).select($"k", $"o",
        sum($"vl").over(w).as("s_l"),
        sum($"vd").over(w).as("s_d"),
        count($"vl").over(w).as("c_l"),
        count(lit(1)).over(w).as("c_star"),
        min($"vl").over(w).as("mn_l"),
        max($"vl").over(w).as("mx_l"),
        min($"vd").over(w).as("mn_d"),
        max($"vd").over(w).as("mx_d"),
        avg($"vl").over(w).as("a_l"),
        avg($"vf").over(w).as("a_f"),
        min($"vf").over(w).as("mn_f"))
        .orderBy($"o")
    }
    val df = qq()
    val on = df.collect()
    assert(findExec(df) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, s"expected the columnar window agg:\n${df.queryExecution.executedPlan}")
    val off = withSQLConf(GraftColumnarRule.windowAggEnabledKey -> "false") { qq().collect() }
    // double running sums accumulate in identical row order on both
    // paths (same sort) → bit-exact comparison is valid
    assert(on.toSeq == off.toSeq, "columnar window agg diverged from the row WindowExec")
  }

  test("columnar window agg: string + composite partition keys, batch-spanning groups") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winagg2").toString
    (1 to 30000).map { i =>
      (if (i % 29 == 0) None else Some(s"g_${i % 5}"), (i % 3).toLong, i.toLong,
        if (i % 7 == 0) None else Some(i.toDouble / 3))
    }.toDF("ks", "k2", "o", "v")
      .repartition(1).write.mode("overwrite").parquet(dir)
    def qq() = {
      val s = spark
      import s.implicits._
      val w = Window.partitionBy($"ks", $"k2").orderBy($"o")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spark.read.parquet(dir).select($"ks", $"k2", $"o",
        sum($"v").over(w).as("s_v"), count($"v").over(w).as("c_v"))
        .orderBy($"o")
    }
    val df = qq()
    val on = df.collect()
    assert(findExec(df) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, s"expected the columnar window agg:\n${df.queryExecution.executedPlan}")
    val off = withSQLConf(GraftColumnarRule.windowAggEnabledKey -> "false") { qq().collect() }
    assert(on.toSeq == off.toSeq,
      "columnar window agg (string/composite keys) diverged from the row WindowExec")
  }

  test("columnar window agg: row face over a bucketed scan + narrow columnar sort") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val s = spark
    import s.implicits._
    val tbl = "winagg_bucketed"
    (1 to 40000).map { i =>
      ((i % 11).toLong, i.toLong,
        if (i % 7 == 0) None else Some(i % 500 - 250),
        if (i % 13 == 0) None else Some(i * 0.5 - 999),
        if (i % 5 == 0) None else Some(s"s_${i % 97}"))
    }.toDF("k", "o", "vl", "vd", "st")
      .write.bucketBy(4, "k").mode("overwrite").saveAsTable(tbl)
    try {
      def qq() = {
        val w = Window.partitionBy($"k").orderBy($"o")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spark.table(tbl).select($"k", $"o",
          sum($"vl").over(w).as("s_l"), sum($"vd").over(w).as("s_d"),
          min($"vd").over(w).as("mn_d"), avg($"vl").over(w).as("a_l"))
          .orderBy($"o")
      }
      val df = qq()
      val on = df.collect()
      val win = findExec(df) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
      }
      assert(win.isDefined, s"expected the columnar window agg:\n${df.queryExecution.executedPlan}")
      // bucketed scan satisfies the distribution → no exchange → the
      // narrow local sort (k, o, vl, vd) swapped columnar → the window
      // reads its rows through Spark's ColumnarToRow
      val chain = Iterator.iterate(win.get.child)(_.children.head)
        .filterNot(n => n.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec] ||
          n.isInstanceOf[org.apache.spark.sql.execution.InputAdapter])
        .map(_.getClass.getSimpleName).take(2).toList
      assert(chain == List("ColumnarToRowExec", "GraftColumnarSortExec"),
        s"expected ColumnarToRow over the columnar sort under the window:\n${
        df.queryExecution.executedPlan}")
      val off = withSQLConf(
        GraftColumnarRule.windowAggEnabledKey -> "false",
        GraftColumnarRule.narrowSortEnabledKey -> "false") { qq().collect() }
      assert(on.toSeq == off.toSeq, "window agg over the columnar sort diverged from the row path")
      // BOXED lanes (first/last/nth, q183's forward-fill shape) over the
      // bucketed child: long, double and STRING carried values, incl.
      // captured-null under ignoreNulls=false and leading-null groups
      def qb() = {
        val w = Window.partitionBy($"k").orderBy($"o")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spark.table(tbl)
          .select($"k", $"o",
            last($"vd", ignoreNulls = true).over(w).as("ffill_d"),
            last($"st", ignoreNulls = true).over(w).as("ffill_s"),
            first($"vl").over(w).as("fst_l"),
            first($"st", ignoreNulls = true).over(w).as("fst_s"),
            nth_value($"vl", 3).over(w).as("third_l"),
            sum($"vl").over(w).as("s_l"))
          .orderBy($"o")
      }
      val dfB = qb()
      val onB = dfB.collect()
      assert(findExec(dfB) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
      }.isDefined,
        s"expected the columnar window agg for boxed lanes:\n${dfB.queryExecution.executedPlan}")
      val offB = withSQLConf(GraftColumnarRule.windowAggEnabledKey -> "false") { qb().collect() }
      assert(onB.toSeq == offB.toSeq, "boxed window lanes diverged from the row path")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("columnar window agg: RANGE running frame (peer groups) parity incl. heavy ties") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winrange").toString
    // o has HEAVY ties (i % 9): every peer group shares one closed
    // value computed over ALL its peers — the defining RANGE-vs-ROWS
    // difference; group 3 is all-ties (one giant peer group per
    // partition); null order keys are their own peer group
    (1 to 40000).map { i =>
      val k = (i % 6).toLong
      val o = if (k == 3L) Some(7L)
        else if (i % 31 == 0) None else Some((i % 9).toLong)
      val v = if (i % 7 == 0) None else Some(i % 1000 - 300)
      val vd = if (i % 11 == 0) None else Some(i * 0.25 - 100)
      (k, o, i.toLong, v, vd)
    }.toDF("k", "o", "tie", "vl", "vd")
      .repartition(1).write.mode("overwrite").parquet(dir)
    def qq() = {
      val s = spark
      import s.implicits._
      // DEFAULT frame under ORDER BY = RANGE UNBOUNDED..CURRENT ROW
      val w = Window.partitionBy($"k").orderBy($"o")
      spark.read.parquet(dir).select($"k", $"o", $"tie",
        sum($"vl").over(w).as("s_l"),
        sum($"vd").over(w).as("s_d"),
        count($"vl").over(w).as("c_l"),
        min($"vl").over(w).as("mn"),
        max($"vd").over(w).as("mx"),
        avg($"vl").over(w).as("av"))
        .orderBy($"k", $"o", $"tie")
    }
    val on = {
      val df = qq()
      val rows = df.collect()
      assert(findExec(df) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
      }.isDefined, s"expected the deferred window agg:\n${df.queryExecution.executedPlan}")
      rows
    }
    val off = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qq().collect() }
    assert(on.toSeq == off.toSeq, "RANGE running frame diverged from the row WindowExec")
  }

  test("columnar window agg: whole-partition frame parity (no ORDER BY + explicit)") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winwhole").toString
    (1 to 30000).map { i =>
      ((i % 8).toLong, i.toLong,
        if (i % 5 == 0) None else Some(i % 700 - 350),
        if (i % 9 == 0) None else Some(i * 0.4 - 60))
    }.toDF("k", "id", "vl", "vd")
      .repartition(1).write.mode("overwrite").parquet(dir)
    def qNoOrder() = {
      val s = spark
      import s.implicits._
      // no ORDER BY → default frame is the whole partition
      val w = Window.partitionBy($"k")
      spark.read.parquet(dir).select($"k", $"id",
        sum($"vl").over(w).as("s_l"), min($"vd").over(w).as("mn"),
        max($"vl").over(w).as("mx"), avg($"vd").over(w).as("av"),
        count(lit(1)).over(w).as("n"))
        .orderBy($"id")
    }
    def qExplicit() = {
      val s = spark
      import s.implicits._
      // explicit ROWS UNBOUNDED..UNBOUNDED with ORDER BY present
      val w = Window.partitionBy($"k").orderBy($"id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      spark.read.parquet(dir).select($"k", $"id",
        sum($"vd").over(w).as("s_d"), max($"vd").over(w).as("mx"))
        .orderBy($"id")
    }
    for ((label, q) <- Seq("no-order" -> (() => qNoOrder()), "explicit" -> (() => qExplicit()))) {
      val df = q()
      val on = df.collect()
      assert(findExec(df) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
      }.isDefined, s"$label: expected the deferred window agg:\n${df.queryExecution.executedPlan}")
      val off = withSQLConf(
        GraftColumnarRule.windowAggEnabledKey -> "false") { q().collect() }
      assert(on.toSeq == off.toSeq, s"$label: whole-partition frame diverged")
    }
  }

  test("streaming lag/lead: parity vs the row WindowExec incl. defaults + tiny partitions") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winoff").toString
    // k=0 is a 1-row partition (every offset hits the default); k=1 is
    // hot (multi-batch); null partition keys group together; values
    // include nulls (lag of a null row is null — NOT the default) and
    // strings
    (1 to 30000).map { i =>
      val k = if (i == 17) Some(0L)
        else if (i % 13 == 0) None else Some(if (i % 3 != 0) 1L else (i % 5 + 2).toLong)
      val v = if (i % 7 == 0) None else Some(i % 997)
      val s = if (i % 11 == 0) None else Some(s"s_${i % 41}")
      (k, i.toLong, v, s, i * 0.5)
    }.toDF("k", "o", "v", "s", "d")
      .repartition(1).write.mode("overwrite").parquet(dir)
    def qq() = {
      val sp = spark
      import sp.implicits._
      val w = Window.partitionBy($"k").orderBy($"o")
      spark.read.parquet(dir).select($"k", $"o",
        lag($"v", 1).over(w).as("lag1"),
        lag($"v", 3, -1).over(w).as("lag3d"),
        lead($"s", 2).over(w).as("lead2"),
        lead($"d", 1, 0.0).over(w).as("lead1d"),
        lag($"s", 2, "EDGE").over(w).as("lag2d"))
        .orderBy($"o")
    }
    val on = {
      val df = qq()
      val rows = df.collect()
      assert(findExec(df) {
        case e: org.apache.spark.sql.execution.graft.GraftWindowOffsetExec => e
      }.isDefined, s"expected the streaming offset exec:\n${df.queryExecution.executedPlan}")
      rows
    }
    val off = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qq().collect() }
    assert(on.toSeq == off.toSeq, "streaming lag/lead diverged from the row WindowExec")
    // LAG-ONLY regression (maxLead = 0): every row emits as it is
    // consumed, so a partition boundary arrives with a ZERO-row flush —
    // the state machine must restart the next partition inside the same
    // hasNext instead of ending the iterator (the q67 row-loss bug:
    // only the first partition per task survived)
    def lagOnly() = {
      val sp = spark
      import sp.implicits._
      val w = Window.partitionBy($"k").orderBy($"o")
      spark.read.parquet(dir).select($"k", $"o", lag($"v", 1).over(w).as("lg"))
        .orderBy($"o")
    }
    val loDf = lagOnly()
    val lo = loDf.collect()
    assert(findExec(loDf) {
      case e: org.apache.spark.sql.execution.graft.GraftWindowOffsetExec => e
    }.isDefined, s"lag-only must swap:\n${loDf.queryExecution.executedPlan}")
    val loOff = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { lagOnly().collect() }
    assert(lo.length == loOff.length,
      s"lag-only lost rows: ${lo.length} vs ${loOff.length}")
    assert(lo.toSeq == loOff.toSeq, "lag-only diverged from the row WindowExec")
    // mixed agg + offset in one node keeps the row path
    val sp2 = spark
    import sp2.implicits._
    val w2 = Window.partitionBy($"k").orderBy($"o")
    val mixed = spark.read.parquet(dir).select($"k",
      lag($"v", 1).over(w2).as("lg"),
      sum($"v").over(w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("sm"))
    mixed.collect()
    assert(findExec(mixed) {
      case e: org.apache.spark.sql.execution.graft.GraftWindowOffsetExec => e
    }.isEmpty, "a mixed agg+offset node must not swap to the offset exec")
  }

  test("streaming ranking: parity vs the row WindowExec incl. ties, nulls, string order keys") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winrank").toString
    // tie-heavy order values (o % 7) with nulls; null partition keys;
    // a 1-row partition (i == 23); string tiebreak key; hot partition
    // k=1 spans many batches
    (1 to 40000).map { i =>
      val k = if (i == 23) Some(-1L)
        else if (i % 17 == 0) None else Some(if (i % 4 != 0) 1L else (i % 6 + 2).toLong)
      val o = if (i % 19 == 0) None else Some((i % 7).toLong)
      val st = if (i % 13 == 0) None else Some(s"g_${i % 5}")
      (k, o, st, i.toLong, i % 103)
    }.toDF("k", "o", "st", "u", "v")
      .repartition(1).write.mode("overwrite").parquet(dir)
    // one node: rank trio over tie-prone (o, st) + running sum — all
    // kind-0 streaming, swaps whole; u breaks ties for row_number
    def qq() = {
      val sp = spark
      import sp.implicits._
      val wT = Window.partitionBy($"k").orderBy($"o", $"st")
      val wU = Window.partitionBy($"k").orderBy($"o", $"st", $"u")
      spark.read.parquet(dir).select($"k", $"u",
        rank().over(wT).as("rnk"),
        dense_rank().over(wT).as("drnk"),
        row_number().over(wU).as("rn"),
        sum($"v").over(wU.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("rsum"))
        .orderBy($"k", $"u")
    }
    val onDf = qq()
    val on = onDf.collect()
    assert(findExec(onDf) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec
          if e.specs.exists(_.fn >= 6) => e
    }.isDefined, s"expected a ranking window swap:\n${onDf.queryExecution.executedPlan}")
    val rowWindows = "(?<!GraftColumnar)Window \\[".r
      .findAllIn(onDf.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head).size
    assert(rowWindows == 0,
      s"both nodes should swap:\n${onDf.queryExecution.executedPlan}")
    val off = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qq().collect() }
    assert(on.toSeq == off.toSeq, "streaming ranking diverged from the row WindowExec")
    // row_number alone needs NO peer keys: it swaps even when the ORDER
    // BY key type (double) is outside the peer-detection whitelist...
    val sp2 = spark
    import sp2.implicits._
    val wD = Window.partitionBy($"k").orderBy($"u".cast("double"))
    val rnOnly = spark.read.parquet(dir)
      .select($"k", $"u", row_number().over(wD).as("rn"))
    rnOnly.collect()
    assert(findExec(rnOnly) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, s"row_number-only over a double order key must swap:\n${
      rnOnly.queryExecution.executedPlan}")
    // ...and rank over the same double key swaps too: peer equality on
    // normalized bits (-0.0 == 0.0, NaN == NaN) matches the row path's
    // SQLOrderingUtil ordering classes
    def rkD() = spark.read.parquet(dir)
      .select($"k", $"u", rank().over(wD).as("rnk")).orderBy($"k", $"u")
    val rkDouble = rkD()
    val rkOn = rkDouble.collect()
    assert(findExec(rkDouble) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, s"rank over a double order key should swap:\n${
      rkDouble.queryExecution.executedPlan}")
    val rkOff = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { rkD().collect() }
    assert(rkOn.toSeq == rkOff.toSeq, "double-key rank diverged from the row WindowExec")
  }

  test("size-based window functions: parity vs the row WindowExec incl. n<buckets, 1-row partitions, ties") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winsize").toString
    // many 1-row partitions (percent_rank 0.0 / cume_dist 1.0 / ntile
    // bucket 1), small partitions BELOW the bucket count (n < b: every
    // row its own bucket), a hot multi-batch partition, null partition
    // keys, heavy order-key ties (fat peer groups for cume_dist), null
    // aggregate inputs
    (1 to 30000).map { i =>
      val k = if (i % 37 == 0) Some(-i.toLong) // 1-row partitions
        else if (i % 13 == 0) None // one null-key partition
        else if (i % 5 == 0) Some((i % 7 + 10).toLong) // ~850-row mids
        else Some(1L) // one hot ~18k-row partition
      val v = if (i % 7 == 0) None else Some((i % 211).toLong)
      (k, i.toLong, (i % 17).toLong, v)
    }.toDF("k", "o", "t", "v")
      .repartition(1).write.mode("overwrite").parquet(dir)
    val sp = spark
    import sp.implicits._
    // kind-0 node: ntile/percent_rank + ranking + a running ROWS agg
    def q0() = {
      val w = Window.partitionBy($"k").orderBy($"o")
      spark.read.parquet(dir).select($"k", $"o",
        ntile(7).over(w).as("sept"),
        percent_rank().over(w).as("pr"),
        rank().over(w).as("rk"),
        sum($"v").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("rs"))
        .orderBy($"k", $"o")
    }
    // kind-1 node: cume_dist + RANGE-running aggs over a TIED order key
    // (peer-scout cursor accumulates whole peer groups)
    def q1() = {
      val w = Window.partitionBy($"k").orderBy($"t")
      spark.read.parquet(dir).select($"k", $"o", $"t",
        cume_dist().over(w).as("cd"),
        sum($"v").over(w).as("s"),
        count(lit(1)).over(w).as("n"),
        first($"v").over(w).as("fv"))
        .orderBy($"k", $"o", $"t")
    }
    for ((q, label) <- Seq(q0 _ -> "kind-0", q1 _ -> "kind-1")) {
      val onDf = q()
      val on = onDf.collect()
      assert(findExec(onDf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
      }.isDefined, s"$label size-based node should swap:\n${
        onDf.queryExecution.executedPlan}")
      val off = withSQLConf(
        GraftColumnarRule.windowAggEnabledKey -> "false") { q().collect() }
      assert(on.toSeq == off.toSeq,
        s"$label size-based node diverged from the row WindowExec")
    }
    // same parity with the partition buffer forced to SPILL (the
    // two-cursor emission reads a spilled EAOURA sequentially)
    val spilled = withSQLConf(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "16",
      "spark.sql.windowExec.buffer.spill.threshold" -> "64") { q1().collect() }
    val plain = q1().collect()
    assert(spilled.toSeq == plain.toSeq,
      "size-based emission over a spilled partition buffer diverged")
    // a node MIXING size-based kinds (ntile ROWS + cume_dist RANGE over
    // one window spec) SPLITS into two homogeneous nodes — both swap
    val wMix = Window.partitionBy($"k").orderBy($"o")
    def qMix() = spark.read.parquet(dir).select($"k", $"o",
      ntile(4).over(wMix).as("b"), cume_dist().over(wMix).as("cd"))
      .orderBy($"k", $"o")
    val mixDf = qMix()
    val mixOn = mixDf.collect()
    assert(findExec(mixDf) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, s"mixed-kind size-based node should split and swap:\n${
      mixDf.queryExecution.executedPlan}")
    val mixOff = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qMix().collect() }
    assert(mixOn.toSeq == mixOff.toSeq,
      "split ntile+cume_dist node diverged from the row WindowExec")
  }

  test("mixed-kind window split: parity, routing, partial fallback and merge-back") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def countExec(df: org.apache.spark.sql.DataFrame)(
        pf: PartialFunction[SparkPlan, Unit]): Int = {
      def deep(n: SparkPlan): Int = n match {
        case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
        case q: QueryStageExec => deep(q.plan)
        case other =>
          (if (pf.isDefinedAt(other)) 1 else 0) + other.children.map(deep).sum
      }
      deep(df.queryExecution.executedPlan)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-winmixkind").toString
    val sp = spark
    import sp.implicits._
    // 1-row partitions, a null-key partition, a hot partition, null
    // values, and a decimal column the window kernels never admit
    (1 to 20000).map { i =>
      val k = if (i % 41 == 0) Some(-i.toLong)
        else if (i % 17 == 0) None
        else Some((i % 3).toLong)
      val v = if (i % 9 == 0) None else Some((i % 97).toLong)
      (k, i.toLong, v, BigDecimal(i).setScale(2))
    }.toDF("k", "o", "v", "d")
      .withColumn("d", $"d".cast("decimal(22,2)"))
      .repartition(1).write.mode("overwrite").parquet(dir)
    def read() = spark.read.parquet(dir)

    // 1) three-kind mix (streaming machines + size-based + deferred
    //    RANGE): all three split nodes swap; parity vs the row exec
    def q3() = {
      val w = Window.partitionBy($"k").orderBy($"o")
      read().select($"k", $"o",
        sum($"v").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("rs"),
        row_number().over(w).as("rn"),
        lag($"o", 2).over(w).as("lo"),
        min($"v").over(w.rowsBetween(-3, 0)).as("mv"),
        ntile(4).over(w).as("nt"),
        sum($"v").over(w).as("ds"),
        count(lit(1)).over(w).as("dn"))
        .orderBy($"k", $"o")
    }
    val d3 = q3()
    val on3 = d3.collect()
    assert(countExec(d3) {
      case _: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec =>
    } == 3, s"three-kind mix should split into three swapped nodes:\n${
      d3.queryExecution.executedPlan}")
    assert(countExec(d3) {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
    } == 0, s"no row WindowExec after the three-kind split:\n${
      d3.queryExecution.executedPlan}")
    val off3 = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { q3().collect() }
    assert(on3.toSeq == off3.toSeq, "three-kind split diverged from the row exec")

    // 2) a pure lag/lead group routes to the O(k) offset exec after the
    //    split (not the partition-buffered catch-all)
    def qOff() = {
      val w = Window.partitionBy($"k").orderBy($"o")
      read().select($"k", $"o",
        lag($"o", 1).over(w).as("lo"),
        lead($"o", 1).over(w).as("nx"),
        sum($"v").over(w).as("ds"))
        .orderBy($"k", $"o")
    }
    val dOff = qOff()
    val onOff = dOff.collect()
    assert(findExec(dOff) {
      case e: org.apache.spark.sql.execution.graft.GraftWindowOffsetExec => e
    }.isDefined, s"the split lag/lead group should land on GraftWindowOffsetExec:\n${
      dOff.queryExecution.executedPlan}")
    assert(findExec(dOff) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, "the deferred RANGE group should swap too")
    val offOff = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qOff().collect() }
    assert(onOff.toSeq == offOff.toSeq, "offset+deferred split diverged")

    // 3) PARTIAL fallback: the deferred group's decimal(22,2) sum never
    //    compiles — its node keeps the row path while the streaming
    //    group swaps; results stay right
    def qPart() = {
      val w = Window.partitionBy($"k").orderBy($"o")
      read().select($"k", $"o",
        sum($"v").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("rs"),
        sum($"d").over(w).as("dd"))
        .orderBy($"k", $"o")
    }
    val dPart = qPart()
    val onPart = dPart.collect()
    assert(countExec(dPart) {
      case _: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec =>
    } == 1, s"the streaming group should swap alone:\n${
      dPart.queryExecution.executedPlan}")
    assert(countExec(dPart) {
      case _: org.apache.spark.sql.execution.window.WindowExec =>
    } == 1, s"the decimal deferred group should keep ONE row node:\n${
      dPart.queryExecution.executedPlan}")
    val offPart = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qPart().collect() }
    assert(onPart.toSeq == offPart.toSeq, "partial split diverged")

    // 4) MERGE-BACK: both kinds fail type admission (decimal sums) —
    //    the chain re-fuses into ONE row WindowExec (one partition
    //    buffer, the unsplit original)
    def qMerge() = {
      val w = Window.partitionBy($"k").orderBy($"o")
      read().select($"k", $"o",
        sum($"d").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("rd"),
        sum($"d").over(w).as("dd"))
        .orderBy($"k", $"o")
    }
    val dMerge = qMerge()
    val onMerge = dMerge.collect()
    assert(countExec(dMerge) {
      case _: org.apache.spark.sql.execution.window.WindowExec =>
    } == 1, s"both-fail split must merge back to ONE row WindowExec:\n${
      dMerge.queryExecution.executedPlan}")
    assert(countExec(dMerge) {
      case _: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec =>
    } == 0, "nothing should swap in the merge-back case")
    val offMerge = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qMerge().collect() }
    assert(onMerge.toSeq == offMerge.toSeq, "merge-back diverged")

    // 5) the time-series mix: a finite RANGE frame (rolling value
    //    window) beside lag + a running ROWS sum — the RANGE group
    //    lands on the value-bounded ring exec, the streaming group on
    //    the catch-all
    def qRange() = {
      val w = Window.partitionBy($"k").orderBy($"o")
      read().select($"k", $"o",
        sum($"v").over(w.rangeBetween(-5, 0)).as("roll"),
        lag($"o", 1).over(w).as("lo"),
        sum($"v").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("rs"))
        .orderBy($"k", $"o")
    }
    val dRange = qRange()
    val onRange = dRange.collect()
    assert(findExec(dRange) {
      case e: org.apache.spark.sql.execution.graft.GraftWindowRangeSlideExec => e
    }.isDefined, s"the split finite-RANGE group should land on the ring exec:\n${
      dRange.queryExecution.executedPlan}")
    assert(findExec(dRange) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, "the streaming lag+sum group should swap too")
    assert(countExec(dRange) {
      case _: org.apache.spark.sql.execution.window.WindowExec =>
    } == 0, s"no row WindowExec after the RANGE split:\n${
      dRange.queryExecution.executedPlan}")
    val offRange = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qRange().collect() }
    assert(onRange.toSeq == offRange.toSeq, "finite-RANGE split diverged")
  }

  test("suffix frames (CURRENT ROW .. UNBOUNDED FOLLOWING): block-combined parity") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winsuf").toString
    val sp2 = spark
    import sp2.implicits._
    // 1-row partitions, a null-key partition, a hot multi-block
    // partition, null values, heavy ORDER-BY ties (RANGE suffix peer
    // groups), and |v| beyond 2^41 (sums stay modular — non-ANSI)
    (1 to 30000).map { i =>
      val k = if (i % 41 == 0) Some(-i.toLong)
        else if (i % 17 == 0) None
        else Some((i % 3).toLong)
      val v = if (i % 9 == 0) None
        else if (i % 401 == 0) Some(1L << 45)
        else Some((i % 211).toLong - 100L)
      val d = if (i % 7 == 0) None else Some((i % 97).toDouble - 48.5)
      (k, i.toLong, (i % 13).toLong, v, d)
    }.toDF("k", "o", "t", "v", "d")
      .repartition(1).write.mode("overwrite").parquet(dir)
    def read() = spark.read.parquet(dir)
    // ROWS suffix (per-row) + RANGE suffix (per-peer-group, tied key t)
    // in ONE node — kinds 3 and 4 share the block-combined face
    def q() = {
      val wr = Window.partitionBy($"k").orderBy($"t")
      read().select($"k", $"o", $"t",
        sum($"v").over(wr.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          .as("sfx_sum"),
        count($"v").over(wr.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          .as("sfx_cnt"),
        min($"v").over(wr.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          .as("sfx_min"),
        max($"d").over(wr.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          .as("sfx_maxd"),
        count(lit(1)).over(wr.rangeBetween(Window.currentRow, Window.unboundedFollowing))
          .as("peer_n"),
        sum($"v").over(wr.rangeBetween(Window.currentRow, Window.unboundedFollowing))
          .as("peer_sum"))
        .orderBy($"k", $"t", $"o")
    }
    // NOTE: ROWS-suffix lanes over a TIED order are engine-arbitrary per
    // row; parity still holds because both runs see the same row order
    // from the same single sort — the dual-run axes cover the shuffled
    // variants via q189's total order
    val dOn = q()
    val on = dOn.collect()
    assert(findExec(dOn) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, s"the suffix node should swap:\n${dOn.queryExecution.executedPlan}")
    val off = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq, "suffix node diverged from the row WindowExec")
    // tiny blocks: many block boundaries + block-suffix combines
    val tiny = withSQLConf(
      "spark.graft.columnar.window.suffix.blockRows" -> "16") { q().collect() }
    assert(tiny.toSeq == off.toSeq, "16-row-block suffix emission diverged")
    // spilled partition buffer: both passes re-read the spilled rows
    val spilled = withSQLConf(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "16",
      "spark.sql.windowExec.buffer.spill.threshold" -> "64") { q().collect() }
    assert(spilled.toSeq == off.toSeq, "spilled suffix emission diverged")
    // suffix + running kinds in one SPEC mix: the splitter chains two
    // swapped nodes
    def qMix() = {
      val w = Window.partitionBy($"k").orderBy($"o")
      read().select($"k", $"o",
        sum($"v").over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          .as("remaining"),
        sum($"v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running"),
        row_number().over(w).as("rn"))
        .orderBy($"k", $"o")
    }
    val dMix = qMix()
    val onMix = dMix.collect()
    assert(findExec(dMix) {
      case e: org.apache.spark.sql.execution.window.WindowExec => e
    }.isEmpty, s"suffix+running mix should fully split and swap:\n${
      dMix.queryExecution.executedPlan}")
    val offMix = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qMix().collect() }
    assert(onMix.toSeq == offMix.toSeq, "suffix+running split diverged")
    // non-associative suffix lanes (avg, double sum) keep the row path
    val dAvg = read().select($"k",
      avg($"v").over(Window.partitionBy($"k").orderBy($"o")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)).as("a"))
    dAvg.collect()
    assert(findExec(dAvg) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isEmpty, "avg over a suffix frame must keep the row path")
    // BACKFILL and tail-value lanes: first/last (both ignoreNulls
    // variants — Spark rewrites first without ignoreNulls into
    // nth_value(x,1,false), mapped onto the same boxed lane) over both
    // suffix kinds, long and string inputs, tiny blocks
    def qFill() = {
      val wp = Window.partitionBy($"k").orderBy($"o")
      val rows = wp.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val rng = wp.rangeBetween(Window.currentRow, Window.unboundedFollowing)
      read()
        .withColumn("sv", when($"v".isNotNull, concat(lit("s"), $"v")))
        .select($"k", $"o",
          first($"v", ignoreNulls = true).over(rows).as("bfill"),
          first($"v").over(rows).as("self"),
          first($"sv", ignoreNulls = true).over(rows).as("bfill_s"),
          last($"v", ignoreNulls = true).over(rows).as("tail_nn"),
          last($"v").over(rows).as("tail"),
          last($"sv", ignoreNulls = true).over(rng).as("tail_s_rng"),
          first($"v", ignoreNulls = true).over(rng).as("bfill_rng"))
        .orderBy($"k", $"o")
    }
    val dFill = qFill()
    val onFill = dFill.collect()
    assert(findExec(dFill) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, s"the backfill suffix node should swap:\n${
      dFill.queryExecution.executedPlan}")
    val offFill = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qFill().collect() }
    assert(onFill.toSeq == offFill.toSeq, "backfill lanes diverged")
    val tinyFill = withSQLConf(
      "spark.graft.columnar.window.suffix.blockRows" -> "16") { qFill().collect() }
    assert(tinyFill.toSeq == offFill.toSeq, "16-row-block backfill diverged")

    // exact ANSI lane, throw-parity: [1, Max, -10] overflows the row
    // path's LEFT-TO-RIGHT prefix at the first row (1 + Max) even
    // though the suffix-order total (Max - 9) fits — a naive
    // right-to-left combine would return a value where Spark throws
    val dir2 = java.nio.file.Files.createTempDirectory("graft-winsufansi").toString
    Seq(
      (1L, 1L, Option(1L)), (1L, 2L, Option(Long.MaxValue)), (1L, 3L, Option(-10L)),
      (2L, 1L, Option(Long.MaxValue)), (2L, 2L, Option(-10L)), (2L, 3L, Option(5L)),
      (3L, 1L, Option(7L)), (3L, 2L, Option.empty[Long]), (3L, 3L, Option(9L)))
      .toDF("k", "o", "v").repartition(1).write.mode("overwrite").parquet(dir2)
    val wSfx = Window.partitionBy($"k").orderBy($"o")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    withSQLConf("spark.sql.ansi.enabled" -> "true") {
      def qThrow() = spark.read.parquet(dir2).filter($"k" === 1L)
        .select($"k", $"o", sum($"v").over(wSfx).as("s")).orderBy($"o")
      intercept[Throwable] { qThrow().collect() }
      withSQLConf(GraftColumnarRule.windowAggEnabledKey -> "false") {
        intercept[Throwable] { qThrow().collect() }
      }
      // no-throw big-value partitions: exact values where every
      // left-to-right prefix stays in range (same shape as qThrow, so
      // its executed plan also proves the ANSI suffix sum swaps)
      def qVal() = spark.read.parquet(dir2).filter($"k" > 1L)
        .select($"k", $"o", sum($"v").over(wSfx).as("s")).orderBy($"k", $"o")
      val dVal = qVal()
      val bOn = dVal.collect()
      assert(findExec(dVal) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
      }.isDefined, s"the ANSI suffix sum should swap:\n${
        dVal.queryExecution.executedPlan}")
      val bOff = withSQLConf(
        GraftColumnarRule.windowAggEnabledKey -> "false") { qVal().collect() }
      assert(bOn.toSeq == bOff.toSeq, "exact ANSI suffix values diverged")
    }
  }

  test("moments final stage: columnar merge + finalize matches the row path on every edge") {
    // the whole moments pipeline columnar on BOTH exchange sides:
    // MomentsFinal/CovFinal/CorrFinal merge the shuffled partial buffers
    // with the row path's mergeExpressions term-for-term and finalize
    // incl. the divisor edges — n=0 (all-null group → null), n=1
    // (sample divisors → divide-by-zero result), m2=0 (constant values
    // → skew/kurt divide-by-zero), and the legacy NaN variant of all
    // three. repartition(4) forces real cross-partition merges.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    val dir = java.nio.file.Files.createTempDirectory("graft-momfin").toString
    // x: constant in group 4 (m2=0 — skew/kurt dbz; corr over x would
    // THROW under ANSI on both paths, checked separately below);
    // y/z: non-constant wherever n > 1, so corr(y, z) stays finite
    val rows = Seq(
      (1L, Some(1.0), Some(2.0), Some(7.0)), (1L, Some(2.5), Some(4.0), Some(1.5)),
      (1L, Some(3.25), Some(5.5), Some(-2.0)), (1L, Some(10.5), Some(1.25), Some(3.75)),
      (1L, Some(-7.75), Some(0.5), Some(9.0)),
      (2L, Some(7.5), Some(3.0), Some(1.0)), // single row: n=1
      (3L, Option.empty[Double], Option.empty[Double], Option.empty[Double]),
      (3L, Option.empty[Double], Option.empty[Double], Option.empty[Double]),
      (4L, Some(5.0), Some(2.0), Some(4.0)), (4L, Some(5.0), Some(3.0), Some(1.0)),
      (4L, Some(5.0), Some(4.5), Some(8.0)), (4L, Some(5.0), Some(5.0), Some(0.25)))
    rows.toDF("k", "x", "y", "z").repartition(4)
      .write.mode("overwrite").parquet(dir)
    def q() = spark.read.parquet(dir).groupBy($"k")
      .agg(stddev($"x").as("sd"), stddev_pop($"x").as("sdp"),
        var_samp($"x").as("vs"), var_pop($"x").as("vp"),
        skewness($"x").as("sk"), kurtosis($"x").as("ku"),
        covar_samp($"x", $"y").as("cs"), covar_pop($"x", $"y").as("cp"),
        corr($"y", $"z").as("co"), count($"x").as("n"))
      .orderBy($"k")
    val d = q()
    val on = d.collect()
    assert(findExec(d) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarFinalAggExec => e
    }.isDefined, s"the moments FINAL stage should swap:\n${
      d.queryExecution.executedPlan}")
    val off = withSQLConf(GraftColumnarRule.enabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq, s"moments final diverged:\non =${
      on.toSeq}\noff=${off.toSeq}")
    // legacy NaN divide-by-zero variant
    withSQLConf("spark.sql.legacy.statisticalAggregate" -> "true") {
      val onL = q().collect()
      val offL = withSQLConf(GraftColumnarRule.enabledKey -> "false") { q().collect() }
      assert(onL.toSeq == offL.toSeq, "legacy-NaN moments final diverged")
    }
    // corr over a CONSTANT column: the row path's ANSI Divide throws on
    // the zero divisor (no m2=0 guard in Corr) — throw-parity, and IEEE
    // NaN parity with ANSI off
    def qC() = spark.read.parquet(dir).filter($"k" === 4L).groupBy($"k")
      .agg(corr($"x", $"y").as("co"))
    intercept[Throwable] { qC().collect() }
    withSQLConf(GraftColumnarRule.enabledKey -> "false") {
      intercept[Throwable] { qC().collect() }
    }
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      val onN = qC().collect()
      val offN = withSQLConf(GraftColumnarRule.enabledKey -> "false") { qC().collect() }
      assert(onN.toSeq == offN.toSeq, "non-ANSI constant-corr diverged")
    }
  }

  test("date_trunc long kernel: linear units match the row path; calendar units fall back") {
    // the time-bucketed GROUP BY key shape: date_trunc to a linear unit
    // compiles onto FloorMultOffL (floor-to-multiple micros, Monday-
    // aligned for WEEK) under the UTC session zone — parity pins
    // pre-epoch (floorDiv, not /), the Monday boundary, sub-second
    // units, and nulls; MONTH (calendar arithmetic) must keep the row path
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    val dir = java.nio.file.Files.createTempDirectory("graft-dtrunc").toString
    Seq(
      Some("1969-12-31 23:59:59.123456"), Some("1970-01-01 00:00:00"),
      Some("1969-11-03 04:05:06.7"), // pre-epoch Monday
      Some("1970-01-04 23:59:59.999999"), Some("1970-01-05 00:00:00.000001"),
      Some("1995-06-17 13:45:30.654321"), Some("2024-02-29 23:00:01.5"),
      Option.empty[String])
      .toDF("t").select($"t".cast("timestamp").as("ts"))
      .write.mode("overwrite").parquet(dir)
    def q(unit: String) = spark.read.parquet(dir)
      .select($"ts", date_trunc(unit, $"ts").as("tr")).orderBy($"ts")
    for (u <- Seq("DAY", "HOUR", "MINUTE", "SECOND", "WEEK", "MILLISECOND")) {
      val d = q(u)
      val on = d.collect()
      assert(findExec(d) {
        case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
      }.isDefined, s"date_trunc($u) should compile onto the long kernel:\n${
        d.queryExecution.executedPlan}")
      val off = withSQLConf(GraftColumnarRule.enabledKey -> "false") {
        q(u).collect()
      }
      assert(on.toSeq == off.toSeq, s"date_trunc($u) kernel diverged")
    }
    val dm = q("MONTH")
    val onM = dm.collect()
    assert(findExec(dm) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isEmpty, s"date_trunc(MONTH) is calendar arithmetic — row path:\n${
      dm.queryExecution.executedPlan}")
    val offM = withSQLConf(GraftColumnarRule.enabledKey -> "false") {
      q("MONTH").collect()
    }
    assert(onM.toSeq == offM.toSeq)
  }

  test("FloorMultOffL: WEEK truncation survives micros near Long.MinValue") {
    // ADVICE r11: the naive floorDiv(x - off, m)*m + off wraps when x is
    // within off (4 days for WEEK) of Long.MIN — it silently produced a
    // huge POSITIVE micros value. The floorMod form must return the true
    // truncation whenever it is representable. x = Long.MIN + 12h: the
    // previous Monday (-9223372022400000000 micros) is in range, but
    // x - off underflows.
    import org.apache.spark.sql.graft.{FloorMultOffL, LitL}
    val m = 7L * 86400 * 1000000
    val off = 4L * 86400 * 1000000
    val x = Long.MinValue + 43200000000L
    val out = new Array[Long](1)
    val nulls = new Array[Boolean](1)
    FloorMultOffL(LitL(x), m, off).eval(null, 1, out, nulls)
    assert(!nulls(0))
    assert(out(0) == -9223372022400000000L,
      s"wrapped: got ${out(0)}")
    // and agrees with floorDiv on an ordinary in-range value
    val y = 1697000000000000L // 2023-10-11
    FloorMultOffL(LitL(y), m, off).eval(null, 1, out, nulls)
    assert(out(0) == Math.floorDiv(y - off, m) * m + off)
  }

  test("global partial agg absorbs computed args onto the kernel project") {
    // the no-keys twin of q191: sum(price * (1 - disc)) over the whole
    // table — the arg expression compiles into a kernel Project below
    // GraftColumnarPartialAggExec instead of keeping the row path
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    def q() = Tables.t(spark, sfDir, "lineitem")
      .agg(
        sum($"l_extendedprice".cast("decimal(9,2)") *
          (lit(1).cast("decimal(5,4)") - $"l_discount".cast("decimal(5,4)")))
          .as("net"),
        min(-$"l_extendedprice").as("mn"),
        count(lit(1)).as("n"))
    val d = q()
    val on = d.collect()
    assert(findExec(d) {
      case e: org.apache.spark.sql.graft.GraftColumnarPartialAggExec => e
    }.isDefined, s"the global computed-arg partial should swap:\n${
      d.queryExecution.executedPlan}")
    assert(findExec(d) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, "the absorbed-args kernel Project should sit below it")
    val off = withSQLConf(GraftColumnarRule.enabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq, "global computed-arg aggregation diverged")
  }

  test("conditional projection kernels: CASE/If parity on double and decimal lanes") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    def q() = Tables.t(spark, sfDir, "lineitem").select(
      when($"l_returnflag" === "R", $"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .otherwise(lit(0.0)).as("cond_d"),
      when($"l_returnflag" === "R",
        $"l_extendedprice".cast("decimal(8,2)") *
          (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(3,2)")))
        .otherwise(lit(0).cast("decimal(12,4)")).as("cond_dec"),
      when($"l_quantity" < 10, $"l_extendedprice").as("no_else"),
      when($"l_quantity" < 10, lit(1.0)).when($"l_quantity" < 30, lit(2.0))
        .otherwise(lit(3.0)).as("multi"))
      .orderBy($"cond_d", $"cond_dec", $"no_else", $"multi")
    val d = q()
    val on = d.collect()
    assert(findExec(d) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"CASE kernels should compile the project columnar:\n${
      d.queryExecution.executedPlan}")
    val off = withSQLConf(GraftColumnarRule.enabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq, "conditional projection diverged")
  }

  test("conditional kernels keep the row path's LAZY ANSI error semantics") {
    // Branch values evaluate under a selection mask: an ANSI cast that
    // overflows only on rows whose condition is FALSE must not raise
    // (row CaseWhen never evaluates those); the same cast on a SELECTED
    // row must raise on both engines. spark.sql.ansi.enabled is Spark
    // 4's default — this is every CASE money query's live semantics.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    val li = Tables.t(spark, sfDir, "lineitem")
    // every lineitem price is >= 900 in the fixture: decimal(4,2) holds
    // values < 100 only, so the branch value overflows on EVERY row —
    // safe exactly when the condition never selects one
    def safe() = li.select(when($"l_extendedprice" < 100.0,
      $"l_extendedprice".cast("decimal(4,2)")).as("x")).agg(count($"x"))
    val onSafe = safe().collect()(0).getLong(0)
    val offSafe = withSQLConf(GraftColumnarRule.enabledKey -> "false") {
      safe().collect()(0).getLong(0)
    }
    assert(onSafe == offSafe, "masked-off ANSI cast diverged")
    def boom() = li.select(when($"l_extendedprice" >= 100.0,
      $"l_extendedprice".cast("decimal(4,2)")).as("x")).agg(count($"x"))
    val onThrew = try { boom().collect(); false } catch { case _: Throwable => true }
    val offThrew = withSQLConf(GraftColumnarRule.enabledKey -> "false") {
      try { boom().collect(); false } catch { case _: Throwable => true }
    }
    assert(onThrew && offThrew, s"selected-row ANSI cast must raise on both " +
      s"engines (columnar=$onThrew row=$offThrew)")
  }

  test("FILTER (WHERE) aggregates absorb as CASE-gated args; dec128 min/max swap") {
    // agg(x) FILTER f == agg(IF(f, x, NULL)) for null-ignoring
    // functions — the rewrite rides the masked conditional kernels, so
    // the whole partial (previously a blanket "FILTER clause" fallback)
    // swaps columnar. min/max over the DECIMAL(37,4) money product pin
    // the int128 comparison lanes.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    val rev = $"l_extendedprice".cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - $"l_discount".cast("decimal(18,2)"))
    def q() = Tables.t(spark, sfDir, "lineitem")
      .withColumn("rev", rev)
      .groupBy($"l_returnflag")
      .agg(
        expr("sum(rev) FILTER (WHERE l_quantity < 25)").as("rev_small"),
        expr("count(1) FILTER (WHERE l_linestatus = 'F')").as("n_f"),
        expr("count(l_partkey) FILTER (WHERE l_quantity >= 25)").as("n_big"),
        min($"rev").as("mn_rev"),
        max($"rev").as("mx_rev"),
        expr("avg(l_extendedprice) FILTER (WHERE l_returnflag = 'R')").as("avg_r"))
      .orderBy($"l_returnflag")
    val d = q()
    val on = d.collect()
    assert(findExec(d) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isDefined, s"FILTER aggregates should swap via the CASE-gated rewrite:\n${
      d.queryExecution.executedPlan}")
    val off = withSQLConf(GraftColumnarRule.enabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq, "FILTER aggregation diverged")
    // global twin
    def qg() = Tables.t(spark, sfDir, "lineitem")
      .withColumn("rev", rev)
      .agg(expr("sum(rev) FILTER (WHERE l_returnflag = 'R')").as("r_rev"),
        max($"rev").as("mx"), min($"rev").as("mn"))
    val dg = qg()
    val ong = dg.collect()
    assert(findExec(dg) {
      case e: org.apache.spark.sql.graft.GraftColumnarPartialAggExec => e
    }.isDefined, s"global FILTER agg should swap:\n${dg.queryExecution.executedPlan}")
    val offg = withSQLConf(GraftColumnarRule.enabledKey -> "false") { qg().collect() }
    assert(ong.toSeq == offg.toSeq, "global FILTER aggregation diverged")
  }

  test("avg over a DECIMAL(38,4) money product swaps via the int128 sum lane") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    val rev = $"l_extendedprice".cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - $"l_discount".cast("decimal(18,2)"))
    def q() = Tables.t(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(avg(rev).as("avg_rev"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
    val d = q()
    val on = d.collect()
    assert(findExec(d) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isDefined, s"wide-decimal avg partial should swap:\n${d.queryExecution.executedPlan}")
    val off = withSQLConf(GraftColumnarRule.enabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq, "wide-decimal avg diverged")
    // global twin
    def qg() = Tables.t(spark, sfDir, "lineitem").agg(avg(rev).as("a"))
    val dg = qg()
    val ong = dg.collect()
    assert(findExec(dg) {
      case e: org.apache.spark.sql.graft.GraftColumnarPartialAggExec => e
    }.isDefined, s"global wide-decimal avg should swap:\n${dg.queryExecution.executedPlan}")
    val offg = withSQLConf(GraftColumnarRule.enabledKey -> "false") { qg().collect() }
    assert(ong.toSeq == offg.toSeq, "global wide-decimal avg diverged")
  }

  test("int128 kernel arithmetic matches BigInteger on edge values") {
    import org.apache.spark.sql.graft.{GraftColumnarAgg, VecDec128Expr}
    import java.math.BigInteger
    def big(hi: Long, lo: Long) = VecDec128Expr.big128(hi, lo)
    // big128 round-trip at the extremes
    for (bi <- Seq(BigInteger.ZERO, BigInteger.valueOf(-1), BigInteger.valueOf(Long.MaxValue),
        BigInteger.valueOf(Long.MinValue), new BigInteger("170141183460469231731687303715884105727"),
        new BigInteger("-170141183460469231731687303715884105728"),
        new BigInteger("99999999999999999999999999999999999999"),
        new BigInteger("-99999999999999999999999999999999999999"))) {
      assert(big(VecDec128Expr.hiOf(bi), VecDec128Expr.loOf(bi)) == bi,
        s"big128 round-trip broke on $bi")
    }
    // addDec128: carries, sign crossings, and the BigInteger escape past 2^127
    val acc = new Array[AnyRef](1)
    val ref = Seq((0L, -1L), (1L, Long.MinValue), (-3L, 7L), (Long.MaxValue / 3, 42L),
      (Long.MaxValue / 3, -42L), (Long.MaxValue / 2, 0L), (Long.MaxValue / 2, 99L))
    var expect = BigInteger.ZERO
    ref.foreach { case (h, l) =>
      GraftColumnarAgg.addDec128(acc, 0, h, l)
      expect = expect.add(big(h, l))
    }
    val got = acc(0) match {
      case a: Array[Long] => big(a(0), a(1))
      case bi: BigInteger => bi
    }
    assert(got == expect, s"addDec128 drifted: $got vs $expect")
    assert(acc(0).isInstanceOf[BigInteger],
      "the last add exceeds 2^127 — expected the BigInteger escape")
  }

  test("to_date kernel + computed grouping keys keep the whole map side columnar") {
    // to_date(ts) resolves to Cast(ts AS DATE) — epoch-micros floorDiv
    // to days under UTC (floorDiv pins pre-epoch instants to the earlier
    // day). DATE and STRING grouping keys are kernel-supported, so
    // GROUP BY to_date(ts) / lower(s) pull their computed key into a
    // Project that compiles columnar and the grouped partial swaps too.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    val dir = java.nio.file.Files.createTempDirectory("graft-todate").toString
    Seq(Some("1969-12-31 23:59:59.999999"), Some("1970-01-01 00:00:00"),
      Some("1969-06-15 12:00:00"), Some("2024-02-29 23:59:59.5"),
      Some("1995-06-17 13:45:30.654321"), Option.empty[String])
      .toDF("t").select($"t".cast("timestamp").as("ts"),
        upper(coalesce($"t", lit("none"))).as("tag"))
      .write.mode("overwrite").parquet(dir)
    def q() = spark.read.parquet(dir)
      .select($"ts", to_date($"ts").as("d")).orderBy($"ts")
    val dq = q()
    val on = dq.collect()
    assert(findExec(dq) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"to_date should compile onto the date kernel:\n${
      dq.queryExecution.executedPlan}")
    val off = withSQLConf(GraftColumnarRule.enabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq, "to_date kernel diverged")
    // computed grouping keys: date bucket + string kernel key
    def qg() = spark.read.parquet(dir)
      .groupBy(to_date($"ts").as("d"), lower($"tag").as("lt"))
      .agg(count(lit(1)).as("n")).orderBy($"d", $"lt")
    val dg = qg()
    val ong = dg.collect()
    assert(findExec(dg) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isDefined, s"computed-key grouped partial should swap:\n${
      dg.queryExecution.executedPlan}")
    assert(findExec(dg) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, "the pulled-out key Project should be columnar")
    val offg = withSQLConf(GraftColumnarRule.enabledKey -> "false") { qg().collect() }
    assert(ong.toSeq == offg.toSeq, "computed-key aggregation diverged")
  }

  test("ANSI suffix sums: exact-lane outThrow flags don't leak across partitions") {
    // ADVICE r10 #1: outThrow is allocated once per spec but written only
    // by the EXACT ANSI lane; the safe-bound branch skipped it. A partition
    // that ran exact (|v| > 2^41 seen) and legitimately flagged a non-peer-
    // head offset (RANGE suffix latches at peer heads only, so its own
    // emission never read the flag) left the stale true behind; the NEXT
    // partition in the same task ran the safe-bound branch, latched the
    // stale flag at its own peer head and threw a spurious overflow on
    // data that cannot overflow.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.GraftColumnarRule
    val BIG = 1L << 42
    val dir = java.nio.file.Files.createTempDirectory("graft-winsufstale").toString
    Seq(
      // A (k=1), peers {o=1}, {o=2 x3}: the right-to-left exact walk flags
      // offset 2 (its suffix prefix tops at MaxValue+1) while both peer
      // heads (0, 1) stay clean — every frame the row path actually
      // evaluates starts at a peer head and fits, so neither engine throws
      (1L, 1L, 0L, 0L), (1L, 2L, 1L, -BIG),
      (1L, 2L, 2L, Long.MaxValue), (1L, 2L, 3L, 1L),
      // B (k=2): tiny values → safe-bound branch; every row its own peer
      // head, so ANY stale flag at offsets 0..3 would latch and throw
      (2L, 1L, 4L, 1L), (2L, 2L, 5L, 2L), (2L, 3L, 6L, 3L), (2L, 4L, 7L, 4L))
      .toDF("k", "o", "u", "v").repartition(1).sortWithinPartitions("k", "o", "u")
      .write.mode("overwrite").parquet(dir)
    val w = Window.partitionBy($"k").orderBy($"o")
      .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    withSQLConf("spark.sql.ansi.enabled" -> "true",
      // one shuffle partition: both window partitions share a task (and
      // therefore the suffix face's staging arrays)
      "spark.sql.shuffle.partitions" -> "1") {
      def q() = spark.read.parquet(dir)
        .select($"k", $"o", sum($"v").over(w).as("s")).orderBy($"k", $"o")
      val d = q()
      val on = d.collect()
      assert(findExec(d) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
      }.isDefined, s"the ANSI RANGE suffix sum should swap:\n${
        d.queryExecution.executedPlan}")
      val off = withSQLConf(GraftColumnarRule.windowAggEnabledKey -> "false") {
        q().collect()
      }
      assert(on.toSeq == off.toSeq, "stale-outThrow parity diverged")
    }
  }

  test("range-slide ANSI sums: frames past the row cap leave the incremental path") {
    // ADVICE r10 #2: RANGE frames are value-bounded but row-count-
    // unbounded; the incremental iAccL safe-bound proof needs BOTH
    // |v| <= 2^41 AND <= 2^21 frame rows (the planner enforces the row
    // cap for ROWS frames only). Shrunk bounds (|v| cap 2^59, row cap 8)
    // reproduce the hazard on 24 rows: a 16-row frame of 2^59s sums to
    // exactly 2^63 — Spark's ANSI row path throws where the unguarded
    // incremental add silently wrapped.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.execution.graft.{GraftWindowRangeSlideExec => RS}
    val big = 1L << 59
    val dir = java.nio.file.Files.createTempDirectory("graft-rngcap").toString
    (0L until 24L).map(i => (1L, i, big)).toDF("k", "o", "v")
      .repartition(1).sortWithinPartitions("o")
      .write.mode("overwrite").parquet(dir)
    val w = Window.partitionBy($"k").orderBy($"o").rangeBetween(-100, 0)
    withSQLConf("spark.sql.ansi.enabled" -> "true",
      RS.ansiSafeAbsKey -> big.toString,
      RS.ansiFrameRowCapKey -> "8") {
      def q() = spark.read.parquet(dir)
        .select($"k", $"o", sum($"v").over(w).as("s")).orderBy($"o")
      intercept[Throwable] { q().collect() } // engine throws...
      withSQLConf(GraftColumnarRule.windowAggEnabledKey -> "false") {
        intercept[Throwable] { q().collect() } // ...exactly like the row path
      }
      // sub-overflow parity: frames capped BELOW the wrap point still
      // cross the row cap, so the evalSlice fallback's VALUES (not just
      // its throw) are checked against the row path
      val w2 = Window.partitionBy($"k").orderBy($"o").rangeBetween(-11, 0)
      def q2() = spark.read.parquet(dir)
        .select($"k", $"o", sum($"v").over(w2).as("s")).orderBy($"o")
      val d2 = q2()
      val on2 = d2.collect()
      assert(findExec(d2) {
        case e: org.apache.spark.sql.execution.graft.GraftWindowRangeSlideExec => e
      }.isDefined, s"the finite-RANGE ANSI sum should land on the ring exec:\n${
        d2.queryExecution.executedPlan}")
      val off2 = withSQLConf(GraftColumnarRule.windowAggEnabledKey -> "false") {
        q2().collect()
      }
      assert(on2.toSeq == off2.toSeq, "capped-frame ANSI parity diverged")
    }
  }

  test("strictly FOLLOWING/PRECEDING frames: pinned winFrameGen counterexamples") {
    // three minimal cases the winFrameGen fuzz falsified once the
    // mixed-kind splitter routed ROWS+RANGE mixes onto the dedicated
    // execs — each pins a distinct kernel bug:
    //  1. ROWS 3..4 on a 1-row partition: the incremental sum/count
    //     exclusion loop subtracted ring slots the inclusion loop never
    //     wrote (count = -2 from stale null flags)
    //  2. RANGE -1..-1 on one row: first-partition hiPtrS started 0
    //     (not resetPart's -1), phantom-including index 0 in an empty
    //     strictly-preceding frame (count(*) = 1)
    //  3. ROWS 16..17 over the seed-146 value prefix: the min-deque's
    //     pow2(frame+3) ring overflowed on unevicted prefix candidates
    //     and emitted a stale suffix minimum (2^45 instead of -246)
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val s = spark
    import s.implicits._
    val BIG = 1L << 45
    val NBIG = -(1L << 44)
    def chk(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val on = df.collect().toSeq
      val off = withSQLConf(
        GraftColumnarRule.windowAggEnabledKey -> "false") { df.collect().toSeq }
      assert(on == off, s"$label diverged:\non =$on\noff=$off")
    }
    val one = Seq((0L, 0L, Option.empty[Long], Option.empty[Double]))
      .toDF("k", "o", "v", "d")
    val w34 = Window.partitionBy($"k").orderBy($"o").rowsBetween(3, 4)
    chk(one.select($"k", $"o", count($"v").over(w34).as("c"),
      sum($"v").over(w34).as("s")).orderBy($"o"), "rows 3..4 one-row")
    val wr11 = Window.partitionBy($"k").orderBy($"o").rangeBetween(-1, -1)
    chk(one.select($"k", $"o", count(lit(1)).over(wr11).as("rc"),
      sum($"v").over(wr11).as("rs")).orderBy($"o"), "range -1..-1 one-row")
    val seq146 = Seq[Option[Long]](Some(-865L), Some(563L), Some(BIG), None,
      None, Some(-256L), Some(-376L), Some(NBIG), Some(79L), None, None,
      Some(659L), Some(NBIG), Some(-642L), Some(-696L), None, Some(-246L),
      Some(BIG), None, None, Some(119L), Some(-674L), Some(531L), Some(NBIG),
      Some(-619L), Some(447L), None, Some(-949L))
    val df146 = seq146.zipWithIndex.map { case (v, i) => (3L, i.toLong, v) }
      .toDF("k", "o", "v")
    val w1617 = Window.partitionBy($"k").orderBy($"o").rowsBetween(16, 17)
    chk(df146.select($"k", $"o", min($"v").over(w1617).as("mn"),
      max($"v").over(w1617).as("mx"),
      sum($"v").over(w1617).as("s")).orderBy($"o"), "rows 16..17 deque")
  }

  test("sliding ROWS frames: parity vs the row WindowExec incl. empty frames, nulls, partition edges") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winslide").toString
    // 1-row partitions (every lookahead/trailing frame is empty or
    // degenerate), a hot multi-batch partition, null values, null
    // partition keys
    (1 to 30000).map { i =>
      val k = if (i % 31 == 0) Some(-i.toLong) // many 1-row partitions
        else if (i % 11 == 0) None else Some(if (i % 3 != 0) 1L else (i % 4 + 2).toLong)
      val v = if (i % 7 == 0) None else Some((i % 211).toLong)
      val d = if (i % 5 == 0) None else Some(i * 0.25)
      (k, i.toLong, v, d)
    }.toDF("k", "o", "v", "d")
      .repartition(1).write.mode("overwrite").parquet(dir)
    def qq() = {
      val sp = spark
      import sp.implicits._
      val w = Window.partitionBy($"k").orderBy($"o")
      spark.read.parquet(dir).select($"k", $"o",
        sum($"v").over(w.rowsBetween(-2, 0)).as("ts"),
        avg($"d").over(w.rowsBetween(-1, 1)).as("ca"),
        min($"v").over(w.rowsBetween(-3, -1)).as("tmin"),
        max($"d").over(w.rowsBetween(1, 3)).as("amax"),
        count($"v").over(w.rowsBetween(-2, 2)).as("cnt"),
        count(lit(1)).over(w.rowsBetween(-4, -2)).as("cstar"))
        .orderBy($"o")
    }
    val onDf = qq()
    val on = onDf.collect()
    assert(findExec(onDf) {
      case e: org.apache.spark.sql.execution.graft.GraftWindowSlidingExec => e
    }.isDefined, s"expected the sliding window exec:\n${onDf.queryExecution.executedPlan}")
    val off = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qq().collect() }
    assert(on.toSeq == off.toSeq, "sliding frames diverged from the row WindowExec")
    // an over-64K INVERTIBLE frame (sum/min/count) now SWAPS: the O(n)
    // kernels hold 9 B/row value rings, not a row ring — and must match
    // the row path's O(n·frame) recompute bit-for-bit
    val sp2 = spark
    import sp2.implicits._
    def wide() = {
      val wWide = Window.partitionBy($"k").orderBy($"o").rowsBetween(-100000, 0)
      spark.read.parquet(dir).select($"k", $"o",
        sum($"v").over(wWide).as("s"),
        min($"v").over(wWide).as("mn"),
        count($"v").over(wWide).as("c"))
        .orderBy($"o")
    }
    val wideDf = wide()
    val wideOn = wideDf.collect()
    assert(findExec(wideDf) {
      case e: org.apache.spark.sql.execution.graft.GraftWindowSlidingExec => e
    }.isDefined, s"an invertible wide frame must swap:\n${wideDf.queryExecution.executedPlan}")
    val wideOff = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { wide().collect() }
    assert(wideOn.toSeq == wideOff.toSeq, "wide invertible frame diverged from the row path")
    // past even the invertible cap → row path
    val wHuge = Window.partitionBy($"k").orderBy($"o").rowsBetween(-3000000, 0)
    val huge = spark.read.parquet(dir).select($"k", sum($"v").over(wHuge).as("s"))
    huge.collect()
    assert(findExec(huge) {
      case e: org.apache.spark.sql.execution.graft.GraftWindowSlidingExec => e
    }.isEmpty, "a frame wider than the invertible cap must keep the row path")
    // a RECOMPUTE spec (avg) in the node keeps the 64K cap
    val wAvg = Window.partitionBy($"k").orderBy($"o").rowsBetween(-100000, 0)
    val avgWide = spark.read.parquet(dir).select($"k", avg($"d").over(wAvg).as("a"))
    avgWide.collect()
    assert(findExec(avgWide) {
      case e: org.apache.spark.sql.execution.graft.GraftWindowSlidingExec => e
    }.isEmpty, "a wide recompute (avg) frame must keep the row path")
  }

  test("sliding ROWS fast kernels: ANSI big-value sums, deque ties, pure-invertible nodes") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winslide-fast").toString
    // values past the 2^41 incremental-ANSI bound (forces the exact
    // addExact recompute lane mid-partition), duplicate min/max values
    // (deque tie handling), negatives, nulls
    (1 to 20000).map { i =>
      val k = if (i % 17 == 0) None else Some((i % 7).toLong)
      val v = if (i % 9 == 0) None
        else if (i % 499 == 0) Some((1L << 45) + i)
        else if (i % 307 == 0) Some(-(1L << 44) - i)
        else Some((i % 13).toLong - 6L)
      val d = if (i % 5 == 0) None
        else Some(if (i % 3 == 0) -0.0 else (i % 11).toDouble / 4.0)
      (k, i.toLong, v, d)
    }.toDF("k", "o", "v", "d")
      .repartition(1).write.mode("overwrite").parquet(dir)
    val sp0 = spark
    import sp0.implicits._
    def q() = {
      val w = Window.partitionBy($"k").orderBy($"o")
      spark.read.parquet(dir).select($"k", $"o",
        sum($"v").over(w.rowsBetween(-500, 0)).as("s"),
        min($"v").over(w.rowsBetween(-200, 100)).as("mn"),
        max($"v").over(w.rowsBetween(-200, 100)).as("mx"),
        min($"d").over(w.rowsBetween(-50, 50)).as("dmn"),
        max($"d").over(w.rowsBetween(-50, 50)).as("dmx"),
        count($"v").over(w.rowsBetween(-500, 0)).as("c"),
        count(lit(1)).over(w.rowsBetween(2, 400)).as("cs"))
        .orderBy($"o")
    }
    val onDf = q()
    val on = onDf.collect()
    assert(findExec(onDf) {
      case e: org.apache.spark.sql.execution.graft.GraftWindowSlidingExec => e
    }.isDefined, s"pure-invertible node must swap:\n${onDf.queryExecution.executedPlan}")
    val off = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq, "fast kernels diverged from the row WindowExec")
    // the incremental RANGE kernels hit the same big-value ANSI flip:
    // value windows with mixed tie groups, the 2^45 values forcing the
    // rescan lane mid-partition, deques across gaps
    def qr() = {
      val w = Window.partitionBy($"k").orderBy($"o").rangeBetween(-800, 0)
      spark.read.parquet(dir).select($"k", $"o",
        sum($"v").over(w).as("rs"),
        min($"v").over(w).as("rmn"),
        max($"d").over(w).as("rmx"),
        count($"v").over(w).as("rc"))
        .orderBy($"o")
    }
    val onR = qr()
    val onRr = onR.collect()
    assert(findExec(onR) {
      case e: org.apache.spark.sql.execution.graft.GraftWindowRangeSlideExec => e
    }.isDefined, s"range node must swap:\n${onR.queryExecution.executedPlan}")
    val offR = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { qr().collect() }
    assert(onRr.toSeq == offR.toSeq, "incremental RANGE kernels diverged from the row WindowExec")
  }

  test("window first/last: parity incl. ignoreNulls forward-fill, strings, all three frame kinds") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winfl").toString
    // null-heavy values (forward-fill has real gaps), leading nulls per
    // partition (first+ignoreNulls vs first diverge), string values
    (1 to 30000).map { i =>
      val k = if (i % 29 == 0) None else Some((i % 9).toLong)
      val v = if (i % 3 != 2) None else Some((i % 199).toLong)
      val st = if (i % 4 != 3) None else Some(s"v_${i % 53}")
      (k, i.toLong, v, st, i * 0.125)
    }.toDF("k", "o", "v", "st", "d")
      .repartition(1).write.mode("overwrite").parquet(dir)
    // one query per frame kind: a WindowExec node holds EVERY frame of
    // its (partition, order) spec, and mixed evaluation kinds in one
    // node keep the row path by design
    val sp0 = spark
    import sp0.implicits._
    val wBase = Window.partitionBy($"k").orderBy($"o")
    val shapes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      // kind 0 (ROWS running): forward-fill incl. strings + nth_value
      // (first() without ignoreNulls IS nth_value(x,1,false) after
      // Spark's rewrite)
      "rows-running" -> (() => {
        val w = wBase.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spark.read.parquet(dir).select($"k", $"o",
          last($"v", ignoreNulls = true).over(w).as("ffill"),
          last($"st", ignoreNulls = true).over(w).as("ffill_s"),
          first($"v").over(w).as("fst"),
          first($"d", ignoreNulls = true).over(w).as("fst_nn"),
          nth_value($"st", 2).over(w).as("second_s")).orderBy($"o")
      }),
      // kind 1 (RANGE running, the default under ORDER BY)
      "range-running" -> (() => {
        spark.read.parquet(dir).select($"k", $"o",
          first($"v", ignoreNulls = true).over(wBase).as("fst_nn"),
          last($"d").over(wBase).as("lst_peer"),
          nth_value($"v", 3).over(wBase).as("third")).orderBy($"o")
      }),
      // kind 2 (whole partition)
      "whole-part" -> (() => {
        val w = wBase.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        spark.read.parquet(dir).select($"k", $"o",
          first($"st").over(w).as("fst_all"),
          last($"v", ignoreNulls = true).over(w).as("lst_all"),
          nth_value($"d", 2, ignoreNulls = true).over(w).as("snd_nn")).orderBy($"o")
      }))
    shapes.foreach { case (name, f) =>
      val onDf = f()
      val on = onDf.collect()
      assert(findExec(onDf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec
            if e.specs.exists(_.fn >= 9) => e
      }.isDefined, s"$name should swap:\n${onDf.queryExecution.executedPlan}")
      val off = withSQLConf(
        GraftColumnarRule.windowAggEnabledKey -> "false") { f().collect() }
      assert(on.toSeq == off.toSeq, s"$name diverged from the row WindowExec")
    }
    // the as-of join shape (q82): last + ignoreNulls over the running
    // frame swaps — assert on the production helper itself
    val probes = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("user_id", "ts", "tag")
    val quotes = Seq((1L, 8L, 1.0), (1L, 15L, 2.0), (2L, 9L, 3.0))
      .toDF("user_id", "qts", "price")
    val asof = graft.queries.TemporalJoinQueries.asofJoin(
      probes, quotes, "user_id", "ts", "qts", "price")
    asof.collect()
    assert(findExec(asof) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec
          if e.specs.exists(_.fn == 10) => e
    }.isDefined, s"the as-of forward-fill window should swap:\n${
      asof.queryExecution.executedPlan}")
  }

  test("sliding RANGE frames: parity incl. ties, null order keys, DESC, intervals") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winrange").toString
    // order values with heavy ties (o = i/7), gaps, null order keys,
    // null inputs, 1-row partitions, a hot multi-batch partition
    (1 to 30000).map { i =>
      val k = if (i % 41 == 0) Some(-i.toLong)
        else if (i % 13 == 0) None else Some(if (i % 3 != 0) 1L else (i % 4 + 2).toLong)
      val o = if (i % 17 == 0) None else Some((i / 7 + (i % 5) * 11).toLong)
      val v = if (i % 6 == 0) None else Some((i % 251).toLong)
      (k, o, v, i * 0.5, i.toLong)
    }.toDF("k", "o", "v", "d", "u")
      .repartition(1).write.mode("overwrite").parquet(dir)
    def check(name: String, f: () => org.apache.spark.sql.DataFrame,
        expectSwap: Boolean = true): Unit = {
      val onDf = f()
      val on = onDf.collect()
      val found = findExec(onDf) {
        case e: org.apache.spark.sql.execution.graft.GraftWindowRangeSlideExec => e
      }
      if (expectSwap) assert(found.isDefined,
        s"$name should swap:\n${onDf.queryExecution.executedPlan}")
      else assert(found.isEmpty,
        s"$name must keep the row path:\n${onDf.queryExecution.executedPlan}")
      val off = withSQLConf(
        GraftColumnarRule.windowAggEnabledKey -> "false") { f().collect() }
      assert(on.toSeq == off.toSeq, s"$name diverged from the row WindowExec")
    }
    val sp0 = spark
    import sp0.implicits._
    check("asc trailing", () => {
      val w = Window.partitionBy($"k").orderBy($"o").rangeBetween(-10, 0)
      spark.read.parquet(dir).select($"k", $"u",
        sum($"v").over(w).as("s"), count($"v").over(w).as("c"),
        min($"v").over(w).as("mn"), avg($"d").over(w).as("av"))
        .orderBy($"k", $"u")
    })
    check("asc centered + lookahead + both-preceding", () => {
      val w = Window.partitionBy($"k").orderBy($"o")
      spark.read.parquet(dir).select($"k", $"u",
        sum($"v").over(w.rangeBetween(-5, 5)).as("cs"),
        max($"v").over(w.rangeBetween(1, 20)).as("ahead"),
        count(lit(1)).over(w.rangeBetween(-20, -3)).as("behind"))
        .orderBy($"k", $"u")
    })
    check("desc trailing", () => {
      val w = Window.partitionBy($"k").orderBy($"o".desc).rangeBetween(-10, 0)
      spark.read.parquet(dir).select($"k", $"u",
        sum($"v").over(w).as("s"), count(lit(1)).over(w).as("c"))
        .orderBy($"k", $"u")
    })
    // timestamp order + interval bounds (exact micros arithmetic);
    // the DataFrame rangeBetween only takes longs, so SQL syntax
    check("timestamp interval window", () => {
      spark.read.parquet(dir)
        .withColumn("ts", org.apache.spark.sql.functions
          .timestamp_micros(($"o" * 60000000L) + 1700000000000000L))
        .selectExpr("k", "u",
          "count(v) OVER (PARTITION BY k ORDER BY ts RANGE BETWEEN" +
            " INTERVAL '1' HOUR PRECEDING AND CURRENT ROW) AS c",
          "sum(v) OVER (PARTITION BY k ORDER BY ts RANGE BETWEEN" +
            " INTERVAL '30' MINUTE PRECEDING AND INTERVAL '10' MINUTE FOLLOWING) AS s")
        .orderBy($"k", $"u")
    })
    // DOUBLE order keys: boundary arithmetic and inclusion must be
    // bit-for-bit the row path's (IEEE adds + compareDoubles classes);
    // NaN rows (greatest, mutual peers) and fractional bounds included
    check("double order asc + NaN tail", () => {
      spark.read.parquet(dir)
        .withColumn("dk", org.apache.spark.sql.functions
          .when($"u" % 977 === 0, org.apache.spark.sql.functions.lit(Double.NaN))
          .otherwise($"d" / 3.0))
        .selectExpr("k", "u",
          "sum(v) OVER (PARTITION BY k ORDER BY dk RANGE BETWEEN" +
            " 10.5 PRECEDING AND CURRENT ROW) AS s",
          "count(1) OVER (PARTITION BY k ORDER BY dk RANGE BETWEEN" +
            " 0.25 PRECEDING AND 0.75 FOLLOWING) AS c")
        .orderBy($"k", $"u")
    })
    check("double order desc", () => {
      spark.read.parquet(dir)
        .selectExpr("k", "u",
          "sum(v) OVER (PARTITION BY k ORDER BY d DESC RANGE BETWEEN" +
            " 7.5 PRECEDING AND CURRENT ROW) AS s")
        .orderBy($"k", $"u")
    })
  }

  test("sliding RANGE frames: pressured ring degrades to the spill-backed buffer, parity holds") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.execution.graft.{GraftWindowRangeSlideExec => RS}
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winrange-press").toString
    // one hot partition whose 300-unit trailing frame holds ~2400 rows
    // (o advances 1 per 8 rows — heavy ties exercise the frame cache in
    // degraded mode), null order keys at the head, then small
    // partitions that must return to ring mode after the degrade
    (1 to 24000).map { i =>
      val k = if (i <= 20000) 1L else (i % 7 + 2).toLong
      val o = if (k == 1L && i % 1013 == 0) None else Some((i / 8).toLong)
      val v = if (i % 6 == 0) None else Some((i % 251).toLong)
      (k, o, v, i * 0.5, i.toLong)
    }.toDF("k", "o", "v", "d", "u")
      .repartition(1).write.mode("overwrite").parquet(dir)
    val sp0 = spark
    import sp0.implicits._
    def q() = {
      val w = Window.partitionBy($"k").orderBy($"o").rangeBetween(-300, 0)
      spark.read.parquet(dir).select($"k", $"u",
        sum($"v").over(w).as("s"), count($"v").over(w).as("c"),
        min($"v").over(w).as("mn"), max($"v").over(w).as("mx"),
        avg($"d").over(w).as("av"))
        .orderBy($"k", $"u")
    }
    // a ~32 KB ring cap refuses the first doubling (1024 slots already
    // exceed it at measured row sizes) — the degrade path MUST engage
    // and still match the row WindowExec bit-for-bit
    val on = withSQLConf(RS.maxRingBytesKey -> (32 * 1024).toString) {
      val onDf = q()
      val rows = onDf.collect()
      val exec = findExec(onDf) { case e: RS => e }
      assert(exec.isDefined,
        s"expected the range-slide swap:\n${onDf.queryExecution.executedPlan}")
      assert(exec.get.metrics("degradedPartitions").value >= 1,
        "the pressured ring must have degraded at least one partition")
      rows
    }
    assert(org.apache.spark.sql.graft.GraftMemoryReservation.currentReserved.get() == 0L,
      "all ring reservations must be released at task end")
    val off = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq,
      "degraded range-slide diverged from the row WindowExec")
    // and the unpressured columnar run agrees too
    val onFull = q().collect()
    assert(on.toSeq == onFull.toSeq, "degraded vs ring-mode runs diverged")
  }

  test("mixed streaming nodes: lag/lead + running aggs + ranking, and exclusive frames") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-winmix").toString
    (1 to 30000).map { i =>
      val k = if (i == 99) Some(0L)
        else if (i % 13 == 0) None else Some(if (i % 3 != 0) 1L else (i % 5 + 2).toLong)
      val v = if (i % 7 == 0) None else Some((i % 997).toLong)
      val st = if (i % 11 == 0) None else Some(s"m_${i % 37}")
      (k, i.toLong, v, st, i * 0.5)
    }.toDF("k", "o", "v", "st", "d")
      .repartition(1).write.mode("overwrite").parquet(dir)
    def check(name: String, f: () => org.apache.spark.sql.DataFrame): Unit = {
      val onDf = f()
      val on = onDf.collect()
      assert(findExec(onDf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec
            if e.specs.exists(s => s.fn == 12 || s.excl) => e
      }.isDefined, s"$name should swap:\n${onDf.queryExecution.executedPlan}")
      val rowWindows = "(?<!GraftColumnar)Window \\[".r
        .findAllIn(onDf.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head).size
      assert(rowWindows == 0, s"$name: no row WindowExec should remain:\n${
        onDf.queryExecution.executedPlan}")
      val off = withSQLConf(
        GraftColumnarRule.windowAggEnabledKey -> "false") { f().collect() }
      assert(on.toSeq == off.toSeq, s"$name diverged from the row WindowExec")
    }
    val sp0 = spark
    import sp0.implicits._
    val w = Window.partitionBy($"k").orderBy($"o")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the SCD2 shape: row_number + lead in one node, plus a running sum
    check("scd2 row_number+lead", () =>
      spark.read.parquet(dir).select($"k", $"o",
        row_number().over(w).as("version"),
        lead($"o", 1).over(w).as("valid_to"),
        lag($"st", 1, "NONE").over(w).as("prev_st"),
        sum($"v").over(wRun).as("cum"))
        .orderBy($"o"))
    // the distributed-prefix-sum shape: exclusive running frames
    check("exclusive prefix sums", () =>
      spark.read.parquet(dir).select($"k", $"o",
        sum($"v").over(w.rowsBetween(Window.unboundedPreceding, -1)).as("excl_sum"),
        count($"v").over(w.rowsBetween(Window.unboundedPreceding, -1)).as("excl_cnt"),
        avg($"d").over(w.rowsBetween(Window.unboundedPreceding, -1)).as("excl_avg"),
        sum($"v").over(wRun).as("incl_sum"),
        lead($"v", 2, -7L).over(w).as("nxt2"))
        .orderBy($"o"))
    // boxed + offsets: forward-fill with the previous raw value beside it
    check("ffill + lag", () =>
      spark.read.parquet(dir).select($"k", $"o",
        last($"v", ignoreNulls = true).over(wRun).as("ffill"),
        lag($"v", 1).over(w).as("prev_raw"),
        first($"st", ignoreNulls = true).over(wRun).as("first_st"))
        .orderBy($"o"))
    // the winnowing shape: sliding STRING min + lead in one node
    // (fn 13 string lane), plus numeric sliding aggs beside an offset
    check("winnowing min+lead", () =>
      spark.read.parquet(dir).select($"k", $"o",
        min($"st").over(w.rowsBetween(0, 2)).as("winmin"),
        lead($"st", 2).over(w).as("l2"),
        max($"st").over(w.rowsBetween(-1, 1)).as("winmax"),
        sum($"v").over(w.rowsBetween(-2, 0)).as("ts"),
        avg($"d").over(w.rowsBetween(-3, -1)).as("ta"))
        .orderBy($"o"))
  }

  test("columnar window agg: offset-0 lead and a CURRENT ROW frame beside a running sum") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val s = spark
    import s.implicits._
    // lead(v, 0) and max over CURRENT ROW..CURRENT ROW add no ring slot,
    // yet their values come from the ring: the node must not take the
    // ring-less streaming loop
    val df0 = (1 to 200).map(i => ((i % 3).toLong, i.toLong, (i * 7 % 11).toLong))
      .toDF("k", "o", "v")
    val w = Window.partitionBy($"k").orderBy($"o")
    def qq() = df0.select($"k", $"o",
      sum($"v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("s"),
      max($"v").over(w.rowsBetween(Window.currentRow, Window.currentRow)).as("m"),
      lead($"v", 0).over(w).as("l0")).orderBy($"k", $"o")
    val df = qq()
    val on = df.collect()
    assert(findExec(df) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, s"expected the columnar window agg:\n${df.queryExecution.executedPlan}")
    val off = withSQLConf(GraftColumnarRule.windowAggEnabledKey -> "false") { qq().collect() }
    assert(on.toSeq == off.toSeq, "offset-0 / current-row specs diverged from the row WindowExec")
  }

  test("columnar window agg: unsupported frames and functions keep the row path") {
    import org.apache.spark.sql.graft.GraftColumnarRule
    import org.apache.spark.sql.expressions.Window
    val s = spark
    import s.implicits._
    val df0 = (1 to 1000).map(i => ((i % 5).toLong, i.toLong, i * 1.5)).toDF("k", "o", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft-winagg3").toString
    df0.repartition(1).write.mode("overwrite").parquet(dir)
    // mixed kinds in one node (streaming ROWS + deferred RANGE over
    // the same spec): the SPLITTER chains two homogeneous nodes and
    // both swap (one close point cannot serve both in one node)
    val wRows = Window.partitionBy($"k").orderBy($"o")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRange = Window.partitionBy($"k").orderBy($"o")
    def q1() = spark.read.parquet(dir).select($"k", $"o",
      sum($"v").over(wRows).as("sr"), sum($"v").over(wRange).as("sg"))
      .orderBy($"k", $"o")
    val d1 = q1()
    val on1 = d1.collect()
    assert(findExec(d1) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, s"mixed streaming + deferred kinds should split and swap:\n${
      d1.queryExecution.executedPlan}")
    assert(findExec(d1) {
      case e: org.apache.spark.sql.execution.window.WindowExec => e
    }.isEmpty, "no row WindowExec should remain after the kind split")
    val off1 = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { q1().collect() }
    assert(on1.toSeq == off1.toSeq, "split streaming+deferred node diverged")
    // a window FUNCTION the engine never compiles (collect_list)
    // poisons the whole node: no split, single row WindowExec
    val d2 = spark.read.parquet(dir).select($"k",
      sum($"v").over(wRows).as("s"),
      collect_list($"v").over(wRange).as("vs"))
    d2.collect()
    assert(findExec(d2) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isEmpty, "a node holding collect_list must keep the row path whole")
    // a DOUBLE sum over the suffix frame never compiles (block
    // association changes bits) — its split group keeps the row path
    // while the running-sum group swaps beside it
    val wBack = Window.partitionBy($"k").orderBy($"o")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def q3() = spark.read.parquet(dir).select($"k", $"o",
      sum($"v").over(wBack).as("s"),
      sum($"v").over(wRows).as("sr")).orderBy($"k", $"o")
    val d3 = q3()
    val on3 = d3.collect()
    assert(findExec(d3) {
      case e: org.apache.spark.sql.execution.window.WindowExec => e
    }.isDefined, s"the double-sum suffix group must keep a row node:\n${
      d3.queryExecution.executedPlan}")
    assert(findExec(d3) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, s"the running-sum group should still swap:\n${
      d3.queryExecution.executedPlan}")
    val off3 = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { q3().collect() }
    assert(on3.toSeq == off3.toSeq, "double-suffix + running split diverged")
    // a node mixing ntile with a plain running agg swaps WHOLE on the
    // partition-buffered face (no split needed — both are kind 0)
    val wRun = Window.partitionBy($"k").orderBy($"o")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def q4() = spark.read.parquet(dir).select($"k", $"o",
      sum($"v").over(wRun).as("s"),
      ntile(4).over(Window.partitionBy($"k").orderBy($"o")).as("qt"))
      .orderBy($"k", $"o")
    val d4 = q4()
    val on4 = d4.collect()
    assert(findExec(d4) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowExec => e
    }.isDefined, s"ntile + running agg should swap on the buffered face:\n${
      d4.queryExecution.executedPlan}")
    val off4 = withSQLConf(
      GraftColumnarRule.windowAggEnabledKey -> "false") { q4().collect() }
    assert(on4.toSeq == off4.toSeq, "ntile + running agg node diverged")
  }

  test("columnar moments partial: stddev/variance family parity, grouped + global") {
    // MomentsSpec replicates Spark's CentralMomentAgg Welford update
    // expressions in row order, so the partial buffers (n, avg, m2) are
    // bit-identical to the row path's — parity is EXACT, not rounded.
    val dir = java.nio.file.Files.createTempDirectory("graft-moments").toString
    val rnd = new scala.util.Random(11)
    (1 to 10000).map { i =>
      val g = (i % 37).toLong
      // group 5: all nulls (n=0 → null/NaN edges at the final stage);
      // group 7: single value (samp divisor-zero edge); magnitudes vary
      val v =
        if (g == 5L) Option.empty[Double]
        else if (g == 7L && i != 7) Option.empty[Double]
        else if (rnd.nextInt(19) == 0) Option.empty[Double]
        else Option((rnd.nextDouble() - 0.5) * math.pow(10, i % 7))
      // second axis for corr/covar: independent nulls — a row counts
      // only when BOTH sides are non-null
      val w =
        if (rnd.nextInt(13) == 0) Option.empty[Double]
        else Option(rnd.nextDouble() * 40 - 15 + i % 11)
      (g, v, w)
    }.toDF("g", "v", "w").coalesce(2).write.mode("overwrite").parquet(dir)
    def grouped() = spark.read.parquet(dir).groupBy($"g").agg(
      stddev_samp($"v").as("ss"), stddev_pop($"v").as("sp"),
      var_samp($"v").as("vs"), var_pop($"v").as("vp"),
      corr($"v", $"w").as("cr"), covar_pop($"v", $"w").as("cvp"),
      covar_samp($"v", $"w").as("cvs"),
      count($"v").as("n")).orderBy($"g")
    val gdf = grouped()
    gdf.collect()
    assert(findExec(gdf) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isDefined, s"expected columnar grouped agg for moments in:\n${gdf.queryExecution.executedPlan}")
    val gOn = grouped().collect().map(_.toString).toSeq
    val gOff = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      grouped().collect().map(_.toString).toSeq
    }
    assert(gOn == gOff, s"grouped moments diverged:\n on=$gOn\noff=$gOff")
    def global() = spark.read.parquet(dir).agg(
      stddev_samp($"v").as("ss"), var_pop($"v").as("vp"), avg($"v").as("a"))
    val bdf = global()
    bdf.collect()
    assert(findExec(bdf) {
      case e: org.apache.spark.sql.graft.GraftColumnarPartialAggExec => e
    }.isDefined, s"expected columnar global partial agg for moments in:\n${bdf.queryExecution.executedPlan}")
    val bOn = global().collect().map(_.toString).toSeq
    val bOff = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      global().collect().map(_.toString).toSeq
    }
    assert(bOn == bOff, s"global moments diverged: on=$bOn off=$bOff")
    // skewness/kurtosis: the m3/m4 lanes replicate CentralMomentAgg's
    // higher-moment update terms, so a MIXED variance+skew+kurt
    // aggregation swaps whole and parity stays exact (bit-identical
    // buffers — no rounding in the compare)
    def higher() = spark.read.parquet(dir).groupBy($"g").agg(
      skewness($"v").as("sk"), kurtosis($"v").as("ku"),
      stddev_samp($"v").as("ss"), count($"v").as("n")).orderBy($"g")
    val hdf = higher()
    hdf.collect()
    assert(findExec(hdf) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isDefined,
      s"expected columnar grouped agg for skew/kurt in:\n${hdf.queryExecution.executedPlan}")
    val hOn = higher().collect().map(_.toString).toSeq
    val hOff = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      higher().collect().map(_.toString).toSeq
    }
    assert(hOn == hOff, s"skew/kurt diverged:\n on=$hOn\noff=$hOff")
    // global skew/kurt partial too
    def hglobal() = spark.read.parquet(dir).agg(
      skewness($"v").as("sk"), kurtosis($"v").as("ku"))
    val hb = hglobal()
    hb.collect()
    assert(findExec(hb) {
      case e: org.apache.spark.sql.graft.GraftColumnarPartialAggExec => e
    }.isDefined, s"expected columnar global partial for skew/kurt in:\n${hb.queryExecution.executedPlan}")
    val hbOn = hglobal().collect().map(_.toString).toSeq
    val hbOff = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      hglobal().collect().map(_.toString).toSeq
    }
    assert(hbOn == hbOff, s"global skew/kurt diverged: on=$hbOn off=$hbOff")
  }

  test("columnar avg over Decimal64 parity, grouped + global") {
    val dir = java.nio.file.Files.createTempDirectory("graft-avgdec").toString
    (1 to 5000).map { i =>
      val g = (i % 13).toLong
      // group 4: all nulls → avg = null (count 0); negatives included
      val d = if (g == 4L || i % 7 == 0) Option.empty[Long] else Option(i * 37L - 90000L)
      (g, d)
    }.toDF("g", "cents")
      .withColumn("d", ($"cents" / lit(100.0)).cast("decimal(12,2)"))
      .select($"g", $"d")
      .coalesce(2).write.mode("overwrite").parquet(dir)
    def grouped() = spark.read.parquet(dir).groupBy($"g")
      .agg(avg($"d").as("a"), count($"d").as("n")).orderBy($"g")
    val gdf = grouped()
    gdf.collect()
    assert(findExec(gdf) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isDefined, s"expected columnar grouped agg for avg(decimal) in:\n${gdf.queryExecution.executedPlan}")
    val gOn = grouped().collect().map(_.toString).toSeq
    val gOff = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      grouped().collect().map(_.toString).toSeq
    }
    assert(gOn == gOff, s"grouped avg(decimal) diverged:\n on=$gOn\noff=$gOff")
    def global() = spark.read.parquet(dir).agg(avg($"d").as("a"))
    val bdf = global()
    bdf.collect()
    assert(findExec(bdf) {
      case e: org.apache.spark.sql.graft.GraftColumnarPartialAggExec => e
    }.isDefined, s"expected columnar global partial agg for avg(decimal) in:\n${bdf.queryExecution.executedPlan}")
    val bOn = global().collect().map(_.toString).toSeq
    val bOff = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      global().collect().map(_.toString).toSeq
    }
    assert(bOn == bOff, s"global avg(decimal) diverged: on=$bOn off=$bOff")
  }

  test("columnar first/last partials parity incl. ignoreNulls and captured nulls") {
    val dir = java.nio.file.Files.createTempDirectory("graft-firstlast").toString
    // one input partition: the partial capture IS the total answer, so
    // parity is deterministic; group 3 starts with nulls (ignoreNulls
    // flip visible), group 6 is all-null
    (1 to 3000).map { i =>
      val g = (i % 9).toLong
      val v =
        if (g == 6L) Option.empty[String]
        else if (g == 3L && i < 300) Option.empty[String]
        else if (i % 11 == 0) Option.empty[String]
        else Option(s"s${i}_${g}")
      val d = v.map(_ => i * 0.5 - 700)
      (g, v, d)
    }.toDF("g", "v", "d").coalesce(1).write.mode("overwrite").parquet(dir)
    def q() = spark.read.parquet(dir).groupBy($"g").agg(
      first($"v").as("f_any"), first($"v", ignoreNulls = true).as("f_nn"),
      last($"v").as("l_any"), last($"v", ignoreNulls = true).as("l_nn"),
      first($"d", ignoreNulls = true).as("fd"), last($"d").as("ld"),
      count($"v").as("n")).orderBy($"g")
    val cdf = q()
    cdf.collect()
    assert(findExec(cdf) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isDefined, s"expected columnar grouped agg for first/last in:\n${cdf.queryExecution.executedPlan}")
    val on = q().collect().map(_.toString).toSeq
    val off = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      q().collect().map(_.toString).toSeq
    }
    assert(on == off, s"first/last diverged:\n on=$on\noff=$off")
  }

  test("GraftColumnarGroupedAgg matches the row path incl. null keys, NaN, flush") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colgrpagg").toString
    Seq(
      (1, Option("en"), Option(2.5), Option(10L)),
      (2, Option.empty[String], Option(Double.NaN), Option(-5L)),
      (3, Option("en"), Option.empty[Double], Option(7L)),
      (4, Option("de"), Option(-0.0), Option.empty[Long]),
      (5, Option.empty[String], Option(1.5), Option(3L)),
      (6, Option("fr"), Option(0.25), Option(9L)),
      (7, Option("de"), Option(4.5), Option(2L)))
      .toDF("id", "k", "d", "l").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy($"k").agg(
      count(lit(1)).as("n"), count($"d").as("nd"), sum($"d").as("sd"),
      avg($"l").as("al"), min($"d").as("mind"), max($"d").as("maxd"),
      min($"l").as("minl"), max($"l").as("maxl"))
    def both(extra: (String, String)*): (Seq[String], Seq[String]) = {
      val (on, hasOp) = withSQLConf(extra: _*) {
        val cdf = agg(t)
        val r = canon(cdf)
        (r, findExec(cdf) {
          case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
        }.isDefined)
      }
      assert(hasOp, "expected grouped columnar agg in plan")
      val off = withSQLConf(
        (extra :+ (org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false")): _*) {
        canon(agg(t))
      }
      (on, off)
    }
    val (on1, off1) = both()
    assert(on1 == off1, s"columnar=$on1 row=$off1")
    // flush path: cap the table at 2 groups → multiple partial rows per
    // key reach the final merge, which must still dedup them
    val (on2, off2) = both(
      org.apache.spark.sql.graft.GraftColumnarGroupedAggExec.maxGroupsKey -> "2")
    assert(on2 == off2, s"flushed columnar=$on2 row=$off2")
    // composite (string, long-family) key
    def agg2(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"k", ($"id" % 2).as("parity")).agg(sum($"d").as("sd"))
    // parity is a computed key → fallback; attribute-only composite:
    def agg3(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"k", $"l").agg(count(lit(1)).as("n"), max($"d").as("m"))
    val on3 = canon(agg3(t))
    val off3 = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      canon(agg3(t))
    }
    assert(on3 == off3, s"composite columnar=$on3 row=$off3")
    // composite key + tiny maxGroups: the hash-probe table's gid slots
    // are reused across flushes — stale null flags / key parts must be
    // overwritten on alloc (null keys present in both key columns)
    val on4 = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarGroupedAggExec.maxGroupsKey -> "2") {
      canon(agg3(t))
    }
    assert(on4 == off3, s"flushed composite columnar=$on4 row=$off3")
    assert(canon(agg2(t)).nonEmpty) // computed key still answers (row path)
  }

  test("Decimal64 sum/min/max match the row path (int channel, escape, nulls, final)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-decagg").toString
    // d7: precision ≤ 9 → the vector's INT channel; d18: scale-0
    // 18-digit values whose sum overflows a long → BigInteger escape
    // (buffer decimal(28,0) still holds the exact total)
    Seq(
      (1, Option("a"), Option(BigDecimal("12345.67")), Option(BigDecimal("999999999999999999"))),
      (2, Option("a"), Option(BigDecimal("-0.01")), Option(BigDecimal("999999999999999999"))),
      (3, Option("b"), Option.empty[BigDecimal], Option(BigDecimal("999999999999999999"))),
      (4, Option("b"), Option(BigDecimal("99999.99")), Option(BigDecimal("-999999999999999999"))),
      (5, Option.empty[String], Option(BigDecimal("0.5")), Option.empty[BigDecimal]),
      (6, Option("c"), Option.empty[BigDecimal], Option.empty[BigDecimal]),
      (7, Option("a"), Option(BigDecimal("12345.67")), Option(BigDecimal("999999999999999999"))))
      .toDF("id", "k", "d7", "d18")
      .select($"id", $"k", $"d7".cast("decimal(7,2)").as("d7"),
        $"d18".cast("decimal(18,0)").as("d18"))
      .write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    // 12 escape-path rows in ONE group: |sum| ≈ 1.2e19 > Long.MaxValue
    val wide = t.unionAll(t).unionAll(t).unionAll(t)
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy($"k").agg(
      sum($"d7").as("s7"), sum($"d18").as("s18"),
      min($"d7").as("min7"), max($"d18").as("max18"), count(lit(1)).as("n"))
    def globalAgg(df: org.apache.spark.sql.DataFrame) =
      df.select(sum($"d7").as("s7"), sum($"d18").as("s18"), max($"d7").as("m7"))
    for (q <- Seq(agg(t), agg(wide), globalAgg(t), globalAgg(wide),
                  agg(t.filter($"id" > 100)), globalAgg(t.filter($"id" > 100)))) {
      val on = canon(q)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false")(canon(q))
      assert(on == off, s"columnar=$on row=$off")
    }
    // the grouped plan actually runs the decimal kernels on both sides
    val cdf = agg(t)
    cdf.collect()
    assert(findExec(cdf) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isDefined, s"expected grouped columnar agg in:\n${cdf.queryExecution.executedPlan}")
    assert(findExec(cdf) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarFinalAggExec => e
    }.isDefined, s"expected columnar final agg in:\n${cdf.queryExecution.executedPlan}")
    // flush path: interim partial emits per key must merge identically
    val onFlush = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarGroupedAggExec.maxGroupsKey -> "1") {
      canon(agg(wide))
    }
    val offFlush = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false")(canon(agg(wide)))
    assert(onFlush == offFlush, s"flushed columnar=$onFlush row=$offFlush")
    // try_sum must NOT compile to the decimal spec (distinct final
    // semantics) — row fallback with identical results
    val tryQ = t.groupBy($"k").agg(expr("try_sum(d18)").as("ts"))
    tryQ.collect()
    assert(findExec(tryQ) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isEmpty, "try_sum must stay on the row path")
    val tOn = canon(tryQ)
    val tOff = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      canon(t.groupBy($"k").agg(expr("try_sum(d18)").as("ts")))
    }
    assert(tOn == tOff)
  }

  test("GraftColumnarProjectExec matches the row path on null/NaN/div-by-zero edges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colproj").toString
    Seq(
      (1, Option(2.5), Option(1.0f), Option(10L)),
      (2, Option(Double.NaN), Option.empty[Float], Option(-5L)),
      (3, Option.empty[Double], Option(Float.NaN), Option(Long.MaxValue)),
      (4, Option(-0.0), Option(2.5f), Option.empty[Long]),
      (5, Option(1.5), Option(0.0f), Option(0L)))
      .toDF("id", "d", "f", "l").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    // widening casts, neg, abs, literals, nonzero division
    def proj(df: org.apache.spark.sql.DataFrame) = df.select(
      $"id",
      ($"d" * ($"f" + lit(1.0)) - $"l" / lit(3.0)).as("a"),
      ($"d" / ($"f" + lit(1.0))).as("div"),
      (-$"d").as("neg"), abs($"d" - lit(100.0)).as("ab"),
      ($"l".cast("double") + $"id".cast("double")).as("wide"))
    def assertColumnar(df: org.apache.spark.sql.DataFrame): Unit =
      assert(findExec(df) {
        case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
      }.isDefined, s"expected columnar project in:\n${df.queryExecution.executedPlan}")
    val cdf = proj(t)
    val on = canon(cdf)
    assertColumnar(cdf)
    val off = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      canon(proj(t))
    }
    assert(on == off, s"columnar=$on row=$off")

    // Divide semantics (Spark 4: never IEEE-infinity): ANSI throws on a
    // zero divisor, LEGACY yields NULL — on BOTH paths; and a NULL
    // numerator beats the ANSI error.
    def divDf = spark.read.parquet(dir).select($"id", ($"d" / $"f").as("q"))
    val e = intercept[Exception] { val df = divDf; df.collect(); }
    assert(e.getMessage.contains("DIVIDE_BY_ZERO"), s"got: ${e.getMessage}")
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      val df = divDf
      val onLegacy = canon(df)
      assertColumnar(df)
      val offLegacy = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
        canon(divDf)
      }
      assert(onLegacy == offLegacy, s"columnar=$onLegacy row=$offLegacy")
      // row 5: d=1.5, f=0.0 → NULL in legacy mode
      assert(df.filter($"id" === 5).collect().head.isNullAt(1))
    }
    // NULL numerator with zero divisor under ANSI → NULL, not an error
    val nullNum = spark.read.parquet(dir)
      .filter($"id" === 3) // d = null
      .select(($"d" / lit(0.0)).as("q"))
    assert(nullNum.collect().head.isNullAt(0))
  }

  test("GraftColumnarProjectExec string kernels match the row path on null/empty/unicode edges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colstr").toString
    Seq(
      (1, Option("  Hello World  "), Option("en")),
      (2, Option(""), Option("fr")),
      (3, Option.empty[String], Option("de")),
      (4, Option("Grüße ÄÖÜ ß"), Option.empty[String]), // multi-byte upper/lower/numChars
      (5, Option("日本語テキスト"), Option("ja")),           // 3-byte chars: substring by CHAR
      (6, Option("abc"), Option("xx")))
      .toDF("id", "t", "lang").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def proj(df: org.apache.spark.sql.DataFrame) = df.select(
      $"id",
      upper($"t").as("u"), lower($"t").as("lo"), trim($"t").as("tr"),
      substring($"t", 2, 4).as("sub"),
      substring($"t", -3, 2).as("subneg"),
      concat($"lang", lit(":"), $"t").as("cat"), // NULL if either side NULL
      length($"t").as("len"))                    // numChars, not bytes
    val cdf = proj(t)
    val on = canon(cdf)
    assert(findExec(cdf) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"expected columnar project in:\n${cdf.queryExecution.executedPlan}")
    val off = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      canon(proj(t))
    }
    assert(on == off, s"columnar=$on row=$off")
    // spot-check the semantics the kernels must replicate exactly
    val byId = cdf.collect().map(r => r.getInt(0) -> r).toMap
    assert(byId(3).isNullAt(1) && byId(3).isNullAt(6) && byId(3).isNullAt(7))
    assert(byId(4).isNullAt(6), "concat with NULL lang must be NULL")
    assert(byId(5).getInt(7) == 7, "length must count chars, not bytes")
    assert(byId(1).getString(4) == " Hel", "substring is 1-based over chars")
  }

  test("GraftColumnarProjectExec surfaces batch/row/computed-column SQLMetrics") {
    val li = Tables.t(spark, sfDir, "lineitem")
    val df = li.select($"l_orderkey",
      ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
    df.collect()
    val exec = findExec(df) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e }
    assert(exec.isDefined, s"columnar project swap missing:\n${df.queryExecution.executedPlan}")
    assert(exec.get.metrics("numOutputRows").value == li.count())
    assert(exec.get.metrics("numComputedColumns").value >= 1)
  }

  test("beyond-Decimal64 money products compile on the int128 lane; rounding shapes fall back") {
    // (18,2) × (18,2) → decimal(37,4): since r12 this compiles on the
    // DECIMAL128 kernels (Mul64x64 — exact int128 product) and swaps
    // columnar with row parity.
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    def q() = Tables.t(spark, sfDir, "lineitem")
      .select(($"l_extendedprice".cast("decimal(18,2)") * lit(2).cast("decimal(18,2)")).as("d2"))
      .orderBy($"d2")
    val d = q()
    val on = d.collect()
    assert(findExec(d) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"decimal128 product should swap columnar:\n${d.queryExecution.executedPlan}")
    val off = withSQLConf(GraftColumnarRule.enabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq, "decimal128 product diverged from the row path")
    // a scale-REDUCING decimal cast rounds — that per-mode semantics
    // stays on the row path with the fallback reason tagged
    val rdf = Tables.t(spark, sfDir, "lineitem")
      .select(($"l_extendedprice".cast("decimal(18,2)") * lit(2).cast("decimal(18,2)"))
        .cast("decimal(38,1)").as("rounded"))
    rdf.collect()
    val tagged = findExec(rdf) {
      case p: org.apache.spark.sql.execution.ProjectExec
          if p.getTagValue(GraftColumnarRule.fallbackReasonTag).isDefined =>
        p.getTagValue(GraftColumnarRule.fallbackReasonTag).get
    }
    assert(tagged.isDefined,
      s"expected fallback tag on the rounding cast in:\n${rdf.queryExecution.executedPlan}")
    assert(tagged.get.contains("rounds"), s"reason: ${tagged.get}")
  }

  test("Dec128To64 narrowing cast: boundary fit, LEGACY/TRY null, ANSI throw, up-scale") {
    // the TPC-H Q1 sum_charge shape: a dec128 product narrowed back into
    // the Decimal64 lane — same-scale bound check + exact up-scale
    val dir = java.nio.file.Files.createTempDirectory("graft-dec128to64").toString
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    // q01's exact shape: dec(18,2) × dec(18,2) → dec(37,4) product,
    // narrowed SAME-SCALE to dec(18,4) whose bound is 99999999999999.9999.
    // row1 lands just under (9999999999999.99 × 10.00), row2 just over
    Seq((1L, "9999999999999.99", "10.00"),
        (2L, "9999999999999.99", "10.01"),
        (3L, "-9999999999999.99", "10.00"),
        (4L, "123.45", "2.00"))
      .toDF("id", "a", "b")
      .select($"id", $"a".cast("decimal(18,2)").as("a"), $"b".cast("decimal(18,2)").as("b"))
      .write.mode("overwrite").parquet(dir)
    def q() = spark.read.parquet(dir)
      .select($"id", ($"a" * $"b").cast("decimal(18,4)").as("narrowed"))
      .orderBy($"id")
    // LEGACY/TRY: overflow → null, fits → exact (row parity, swap pinned)
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      val d = q()
      val on = d.collect()
      assert(findExec(d) {
        case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
      }.isDefined, s"narrowing cast should swap columnar:\n${d.queryExecution.executedPlan}")
      val off = withSQLConf(GraftColumnarRule.enabledKey -> "false") { q().collect() }
      assert(on.toSeq == off.toSeq, s"Dec128To64 diverged:\non=${on.toSeq}\noff=${off.toSeq}")
      assert(on(1).isNullAt(1), "row 2 must overflow to null in LEGACY")
      assert(!on(0).isNullAt(1) && !on(2).isNullAt(1), "boundary rows must fit")
    }
    // ANSI: both paths throw on the overflow row
    val ansiCol = intercept[Exception] { q().collect() }
    val ansiRow = intercept[Exception] {
      withSQLConf(GraftColumnarRule.enabledKey -> "false") { q().collect() }
    }
    def root(e: Throwable): String = {
      var c: Throwable = e
      while (c.getCause != null && !c.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE") &&
        !c.getMessage.contains("cannot be represented")) c = c.getCause
      c.getMessage.takeWhile(_ != '\n')
    }
    assert(root(ansiCol).nonEmpty && root(ansiRow).nonEmpty,
      s"expected overflow errors, got columnar=${root(ansiCol)} row=${root(ansiRow)}")
    // up-scale through the 128 lane: dec(9,2)×dec(9,2) → (19,4) product,
    // cast to (18,6) = exact ×100 then bound check
    def up() = spark.read.parquet(dir).filter($"id" === 4L)
      .select(($"a".cast("decimal(9,2)") * $"b".cast("decimal(9,2)"))
        .cast("decimal(18,6)").as("upscaled"))
    val got = up().collect().head.getDecimal(0)
    val want = withSQLConf(GraftColumnarRule.enabledKey -> "false") {
      up().collect().head.getDecimal(0) }
    assert(got == want && got.toPlainString == "246.900000",
      s"up-scale drifted: $got vs $want")
  }

  test("CaseWhenL: conditional flag sums swap columnar and match the row path") {
    // the TPC-H Q12 shape — sum(CASE WHEN … THEN 1 ELSE 0) — absorbed
    // onto the long/int conditional lane below the grouped partial
    val dir = java.nio.file.Files.createTempDirectory("graft-casewhenl").toString
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    Seq(
      (1L, "a", Option(10L), Option(1.5)), (2L, "a", Option(30L), Option(0.5)),
      (3L, "b", Option.empty[Long], Option(2.5)), (4L, "b", Option(25L), Option.empty[Double]),
      (5L, "a", Option(25L), Option(Double.NaN)))
      .toDF("id", "g", "q", "d").write.mode("overwrite").parquet(dir)
    def q() = spark.read.parquet(dir)
      .groupBy($"g")
      .agg(
        sum(when($"q" < 25L, 1).otherwise(0)).as("n_small"),          // int flags
        sum(when($"q" >= 25L, 1L).otherwise(0L)).as("n_big"),         // long flags
        sum(when($"d" > 1.0, 10).when($"d" <= 1.0, 20)).as("multi"),  // no ELSE → null branch
        sum(when($"q".isNull, $"id").otherwise(lit(0L))).as("sgn"),
        count(lit(1)).as("n"))
      .orderBy($"g")
    val df = q()
    val on = df.collect()
    assert(findExec(df) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isDefined, s"conditional flag partial should swap:\n${df.queryExecution.executedPlan}")
    val off = withSQLConf(GraftColumnarRule.enabledKey -> "false") { q().collect() }
    assert(on.toSeq == off.toSeq, s"CaseWhenL diverged:\non=${on.toSeq}\noff=${off.toSeq}")
    // NaN discipline: Spark's NaN is GREATER than any value, so the
    // NaN row takes the d>1.0 branch (this parity pinned the filter's
    // cmpD onto SQLOrderingUtil — raw IEEE `>` silently dropped it)
    assert(on.map(_.getString(0)).toSeq == Seq("a", "b"))
    // and the standalone columnar FILTER keeps the NaN row too
    def f() = spark.read.parquet(dir).filter($"d" > 1.0).select($"id")
    val fdf = f()
    val fOn = fdf.collect().map(_.getLong(0)).toSet
    assert(findExec(fdf) {
      case e: org.apache.spark.sql.graft.GraftColumnarFilterExec => e
    }.isDefined, s"double compare must swap:\n${fdf.queryExecution.executedPlan}")
    val fOff = withSQLConf(GraftColumnarRule.enabledKey -> "false") {
      f().collect().map(_.getLong(0)).toSet }
    assert(fOn == Set(1L, 3L, 5L) && fOn == fOff,
      s"NaN filter semantics diverged: columnar=$fOn row=$fOff")
  }

  test("Size/CoalesceS/ConcatWsS kernels match the row path incl. null arrays and empty strings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sizekernels").toString
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.graft.GraftColumnarRule
    Seq(
      (1L, Option("a b  c"), Option(Seq(1.0f, 2.0f)), Option("x")),
      (2L, Option(""), Option(Seq.empty[Float]), Option.empty[String]),
      (3L, Option.empty[String], Option.empty[Seq[Float]], Option("y")),
      (4L, Option("solo"), Option(Seq(9.0f)), Option.empty[String]),
      (5L, Option(" lead trail "), Option(Seq(1f, 2f, 3f)), Option("z")))
      .toDF("id", "t", "arr", "u").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def both[A](mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        expectSwap: Boolean): (Seq[String], Seq[String]) = {
      val df = mk(t)
      val on = df.collect().map(_.toString).toSeq
      if (expectSwap) {
        val hasGraft = findExec(df) {
          case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
          case e: org.apache.spark.sql.graft.GraftColumnarFilterExec => e
        }
        assert(hasGraft.isDefined, s"expected a kernel swap:\n${df.queryExecution.executedPlan}")
      }
      val off = withSQLConf(GraftColumnarRule.enabledKey -> "false") {
        mk(t).collect().map(_.toString).toSeq
      }
      (on, off)
    }
    // size(split(text, ' ')): "a b  c" → 4 (empty token between double
    // spaces), "" → 1, null → null (ANSI default), "solo" → 1
    val (a, b) = both(_.select($"id", size(split($"t", " ")).as("n")).orderBy($"id"), true)
    assert(a == b, s"size(split) diverged: $a vs $b")
    // size(arrayColumn) incl. null array
    val (c, d) = both(_.select($"id", size($"arr").as("n")).orderBy($"id"), true)
    assert(c == d, s"size(array) diverged: $c vs $d")
    // size-based FILTER (the quality-gate predicate shape)
    val (e, f) = both(_.filter(size(split($"t", " ")) >= 2).select($"id"), true)
    assert(e == f && e.size == 2, s"size filter diverged: $e vs $f")
    val (g, h) = both(_.filter(size($"arr") > 1).select($"id"), true)
    assert(g == h, s"array-size filter diverged: $g vs $h")
    // coalesce / concat_ws with nulls skipped
    val (i, j) = both(_.select($"id", coalesce($"u", $"t", lit("-")).as("c")).orderBy($"id"), true)
    assert(i == j, s"coalesce diverged: $i vs $j")
    val (k, l) = both(_.select($"id", concat_ws("|", $"u", $"t").as("w")).orderBy($"id"), true)
    assert(k == l, s"concat_ws diverged: $k vs $l")
    // least/greatest: SKIP-null semantics (null only when all null)
    val (o1, o2) = both(_.select($"id",
      least(size(split($"t", " ")), size($"arr"), lit(3)).as("lo"),
      greatest(size($"arr"), lit(0)).as("hi")).orderBy($"id"), true)
    assert(o1 == o2, s"least/greatest diverged: $o1 vs $o2")
    // legacy sizeOfNull=-1 mode agrees too
    withSQLConf("spark.sql.ansi.enabled" -> "false",
        "spark.sql.legacy.sizeOfNull" -> "true") {
      val (m, n2) = both(_.select($"id", size($"arr").as("n"),
        size(split($"t", " ")).as("tn")).orderBy($"id"), true)
      assert(m == n2, s"legacy sizeOfNull diverged: $m vs $n2")
      assert(m.exists(_.contains("-1")), s"expected -1 for null under legacy: $m")
    }
  }

  test("GraftColumnarSemiBHJExec: semi/anti parity incl. null keys, misses, dup build keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colsemi").toString
    Seq(
      (1L, Option(10L), 1.5), (2L, Option(20L), 2.5), (3L, Option.empty[Long], 3.5),
      (4L, Option(99L), 4.5), (5L, Option(10L), 5.5), (6L, Option(30L), 6.5))
      .toDF("id", "k", "v").write.mode("overwrite").parquet(s"$dir/stream")
    Seq((10L, "a"), (10L, "b"), (20L, "c"), (30L, "d"), (77L, "e"))
      .toDF("bk", "tag").write.mode("overwrite").parquet(s"$dir/build")
    def join(tpe: String) = {
      val st = spark.read.parquet(s"$dir/stream")
      val bd = spark.read.parquet(s"$dir/build")
      st.join(broadcast(bd), $"k" === $"bk", tpe)
    }
    for (tpe <- Seq("left_semi", "left_anti")) {
      val cdf = join(tpe)
      cdf.collect()
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarSemiBHJExec => e
      }.isDefined, s"$tpe: expected columnar semi/anti BHJ in:\n${cdf.queryExecution.executedPlan}")
      val on = canon(cdf)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(join(tpe)) }
      assert(on == off, s"$tpe: columnar=$on row=$off")
    }
    // semi: ids 1,2,5,6 (dup build key 10 emits each stream row ONCE);
    // anti: ids 3 (null key never matches) and 4 (missing key)
    assert(join("left_semi").select($"id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 5L, 6L)))
    assert(join("left_anti").select($"id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(3L, 4L)))
    // the flag gates the swap
    withSQLConf(org.apache.spark.sql.graft.GraftColumnarRule.semiBhjEnabledKey -> "false") {
      val rdf = join("left_semi")
      rdf.collect()
      assert(findExec(rdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarSemiBHJExec => e
      }.isEmpty, "semiBhj flag must gate the swap")
    }
    // NOT IN (null-aware anti) keeps the row path: its null semantics
    // differ from the equi-key anti probe
    val st = spark.read.parquet(s"$dir/stream")
    spark.read.parquet(s"$dir/build").createOrReplaceTempView("semi_build")
    st.createOrReplaceTempView("semi_stream")
    val naaj = spark.sql(
      "SELECT id FROM semi_stream WHERE k NOT IN (SELECT bk FROM semi_build)")
    naaj.collect()
    assert(findExec(naaj) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarSemiBHJExec => e
    }.isEmpty, s"null-aware anti must stay row:\n${naaj.queryExecution.executedPlan}")
  }

  test("GraftColumnarSemiBHJExec: STRING key semi/anti parity incl. nulls, empty string, unicode") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colsemistr").toString
    Seq(
      (1L, Option("alpha")), (2L, Option("beta")), (3L, Option.empty[String]),
      (4L, Option("missing")), (5L, Option("alpha")), (6L, Option("")),
      (7L, Option("héllo")), (8L, Option("alphax")))
      .toDF("id", "k").write.mode("overwrite").parquet(s"$dir/stream")
    Seq(("alpha", 1), ("alpha", 2), ("beta", 3), ("", 4), ("héllo", 5), ("unused", 6))
      .toDF("bk", "tag").write.mode("overwrite").parquet(s"$dir/build")
    def join(tpe: String) = {
      val st = spark.read.parquet(s"$dir/stream")
      val bd = spark.read.parquet(s"$dir/build")
      st.join(broadcast(bd), $"k" === $"bk", tpe)
    }
    for (tpe <- Seq("left_semi", "left_anti")) {
      val cdf = join(tpe)
      cdf.collect()
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarSemiBHJExec => e
      }.isDefined, s"$tpe: expected columnar semi/anti BHJ in:\n${cdf.queryExecution.executedPlan}")
      val on = canon(cdf)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(join(tpe)) }
      assert(on == off, s"$tpe string key: columnar=$on row=$off")
    }
    // semi: 1,2,5 (dup build key once), 6 (empty string matches empty),
    // 7 (unicode); anti: 3 (null key), 4 (miss), 8 ("alphax" != "alpha")
    assert(join("left_semi").select($"id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 5L, 6L, 7L)))
    assert(join("left_anti").select($"id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(3L, 4L, 8L)))
  }

  test("GraftColumnarShuffledSemiJoinExec: bucketed-stream semi/anti parity, long + string keys") {
    val wh = java.nio.file.Files.createTempDirectory("graft-colshj").toString
    // bucketed stream: only the build side may shuffle
    val rows = Seq(
      (1L, Option(10L), Option("alpha")), (2L, Option(20L), Option("beta")),
      (3L, Option.empty[Long], Option.empty[String]), (4L, Option(99L), Option("missing")),
      (5L, Option(10L), Option("alpha")), (6L, Option(30L), Option("")))
      .toDF("id", "k", "sk")
    rows.write.format("parquet")
      .bucketBy(4, "k").option("path", s"$wh/stream_bkt")
      .mode("overwrite").saveAsTable("colshj_stream")
    // a second layout bucketed on the STRING column, so the string-key
    // probe also sees an exchange-free stream
    rows.write.format("parquet")
      .bucketBy(4, "sk").option("path", s"$wh/stream_bkt_s")
      .mode("overwrite").saveAsTable("colshj_stream_s")
    val build = Seq((10L, "alpha"), (10L, "alpha2"), (20L, "beta"), (77L, ""), (30L, "zz"))
      .toDF("bk", "bs")
    def join(tpe: String, byString: Boolean) = {
      val bd = build.hint("shuffle_hash")
      if (byString) spark.table("colshj_stream_s").join(bd, $"sk" === $"bs", tpe)
      else spark.table("colshj_stream").join(bd, $"k" === $"bk", tpe)
    }
    for (tpe <- Seq("left_semi", "left_anti"); byString <- Seq(false, true)) {
      val cdf = join(tpe, byString)
      cdf.collect()
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarShuffledSemiJoinExec => e
      }.isDefined,
        s"$tpe byString=$byString: expected columnar SHJ probe in:\n${cdf.queryExecution.executedPlan}")
      val on = canon(cdf)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
        canon(join(tpe, byString))
      }
      assert(on == off, s"$tpe byString=$byString: columnar=$on row=$off")
    }
    // long semi: ids 1,2,5,6 (dup build keys once); anti: 3 (null), 4 (miss)
    assert(join("left_semi", byString = false).select($"id").collect()
      .map(_.getLong(0)).sorted.sameElements(Array(1L, 2L, 5L, 6L)))
    assert(join("left_anti", byString = false).select($"id").collect()
      .map(_.getLong(0)).sorted.sameElements(Array(3L, 4L)))
    // the flag gates the swap
    withSQLConf(org.apache.spark.sql.graft.GraftColumnarRule.shjEnabledKey -> "false") {
      val rdf = join("left_semi", byString = false)
      rdf.collect()
      assert(findExec(rdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarShuffledSemiJoinExec => e
      }.isEmpty, "shj flag must gate the swap")
    }
    // INNER variant (default ON): one-to-many matches, build output
    // incl. string + double columns, null stream keys dropped
    val buildWide = Seq(
      (10L, "a", 1.5), (10L, "b", 2.5), (20L, "c", Double.NaN), (77L, "", -0.0))
      .toDF("bk", "bs", "bv")
      // Decimal64 build column rides the long lane (NaN guarded for ANSI)
      .withColumn("bm", when(isnan($"bv"), lit(null))
        .otherwise($"bv" * lit(-2.0) + $"bk").cast("decimal(10,2)"))
      .hint("shuffle_hash")
    def inner() = spark.table("colshj_stream").join(buildWide, $"k" === $"bk")
    val cdfI = inner()
    cdfI.collect()
    assert(findExec(cdfI) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarShuffledInnerJoinExec => e
    }.isDefined, s"expected columnar inner SHJ in:\n${cdfI.queryExecution.executedPlan}")
    val onI = canon(cdfI)
    val offI = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(inner()) }
    assert(onI == offI, s"inner SHJ: columnar=$onI row=$offI")
    // one-to-many: stream ids 1 and 5 (k=10) match two build rows
    // each, id 2 (k=20) one; null key and misses drop
    assert(onI.size == 5, s"expected 5 inner matches, got: $onI")
    // the flag gates the swap
    withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.innerShjEnabledKey -> "false") {
      val rdfI = inner()
      rdfI.collect()
      assert(findExec(rdfI) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarShuffledInnerJoinExec => e
      }.isEmpty, "innerShj flag must gate the swap")
    }
    // LEFT OUTER variant: same probe, misses and the null-key row
    // survive with every build lane null
    def louter() = spark.table("colshj_stream")
      .join(buildWide, $"k" === $"bk", "left_outer")
    val cdfO = louter()
    cdfO.collect()
    assert(findExec(cdfO) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarShuffledInnerJoinExec
          if e.leftOuter => e
    }.isDefined, s"expected columnar left-outer SHJ in:\n${cdfO.queryExecution.executedPlan}")
    val onO = canon(cdfO)
    val offO = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(louter()) }
    assert(onO == offO, s"left-outer SHJ: columnar=$onO row=$offO")
    // 5 inner matches + null-key id 3 + misses ids 4 (99) and 6 (30) = 8
    assert(onO.size == 8, s"expected 8 left-outer rows, got: $onO")
    assert(louter().filter($"bk".isNull).select($"id").collect()
      .map(_.getLong(0)).sorted.sameElements(Array(3L, 4L, 6L)),
      "unmatched stream rows must survive with null build lanes")
    spark.sql("DROP TABLE IF EXISTS colshj_stream")
    spark.sql("DROP TABLE IF EXISTS colshj_stream_s")
  }

  test("GraftColumnarShuffledInnerJoinExec: RIGHT/FULL OUTER build-side sweep parity") {
    val wh = java.nio.file.Files.createTempDirectory("graft-colshj-outer").toString
    // stream (bucketed, preserved only under full outer): includes a
    // null key and keys missing from the build
    Seq(
      (1L, Option(10L)), (2L, Option(20L)), (3L, Option.empty[Long]),
      (4L, Option(99L)), (5L, Option(10L)))
      .toDF("id", "k")
      .write.format("parquet").bucketBy(4, "k")
      .option("path", s"$wh/stream_bkt").mode("overwrite")
      .saveAsTable("colshj_outer_stream")
    // build: duplicate keys (10 twice), a null build key (must survive
    // the sweep), and keys the stream never probes (33)
    val build = Seq(
      (Option(10L), "a", 1.5), (Option(10L), "b", 2.5), (Option(20L), "c", 3.5),
      (Option.empty[Long], "nullkey", -1.0), (Option(33L), "lonely", 9.0))
      .toDF("bk", "bs", "bv").hint("shuffle_hash")
    def join(tpe: String) =
      spark.table("colshj_outer_stream").join(build, $"k" === $"bk", tpe)
    for (tpe <- Seq("right_outer", "full_outer")) {
      val cdf = join(tpe)
      cdf.collect()
      val exec = findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarShuffledInnerJoinExec => e
      }
      assert(exec.isDefined,
        s"$tpe: expected the columnar SHJ in:\n${cdf.queryExecution.executedPlan}")
      assert(exec.get.buildOuter, s"$tpe: buildOuter flag must be set")
      assert(exec.get.leftOuter == (tpe == "full_outer"))
      val on = canon(cdf)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
        canon(join(tpe))
      }
      assert(on == off, s"$tpe: columnar=$on row=$off")
    }
    // right outer: 5 matches (ids 1,5 × 2 build rows for k=10; id 2 ×
    // k=20) + swept build rows (null bk, lonely 33) with null stream = 7
    assert(join("right_outer").collect().length == 7)
    assert(join("right_outer").filter($"id".isNull).select($"bs").collect()
      .map(_.getString(0)).sorted.sameElements(Array("lonely", "nullkey")),
      "unmatched build rows (incl. the null-key row) must be swept with null stream lanes")
    // full outer adds stream misses: ids 3 (null key) and 4 (99) = 9
    assert(join("full_outer").collect().length == 9)
    spark.sql("DROP TABLE IF EXISTS colshj_outer_stream")
  }

  test("columnar SHJ probe: hot build key emits bounded chunked batches, parity holds") {
    import org.apache.spark.sql.execution.graft.GraftColumnarShuffledInnerJoinExec
    val chunk = GraftColumnarShuffledInnerJoinExec.maxBatchRows
    val wh = java.nio.file.Files.createTempDirectory("graft-colshj-skew").toString
    // stream: 8192 rows on the hot key + a miss + a null key
    (1 to 8192).map(i => (i.toLong, Option(10L)))
      .:+((9000L, Option(99L))).:+((9001L, Option.empty[Long]))
      .toDF("id", "k")
      .write.format("parquet").bucketBy(4, "k")
      .option("path", s"$wh/stream_bkt").mode("overwrite")
      .saveAsTable("colshj_skew_stream")
    // build: the hot key duplicated 50x → 8192 * 50 = 409,600 matches
    // from ONE stream batch family — far past the 64K emission bound
    val build = (1 to 50).map(j => (10L, j.toLong)).toDF("bk", "bv")
      .hint("shuffle_hash")
    def inner() = spark.table("colshj_skew_stream").join(build, $"k" === $"bk")
    val cdf = inner()
    val total = cdf.count()
    assert(total == 8192L * 50, s"expected 409600 matches, got $total")
    val agg = inner().agg(sum($"id" * $"bv"), count(lit(1))).collect()(0)
    cdf.collect()
    val exec = findExec(cdf) {
      case e: GraftColumnarShuffledInnerJoinExec => e
    }
    assert(exec.isDefined, s"expected columnar SHJ in:\n${cdf.queryExecution.executedPlan}")
    val batches = exec.get.metrics("numBatches").value
    val rows = exec.get.metrics("numOutputRows").value
    assert(rows == 8192L * 50)
    // boundedness: every emitted batch holds at most `chunk` rows, so
    // the probe must have emitted at least ceil(rows/chunk) batches
    // (the old one-batch-per-input-batch scheme emits ~4 giant ones)
    assert(batches >= (rows + chunk - 1) / chunk,
      s"matches must be chunked: $rows rows in only $batches batches (bound $chunk)")
    val offAgg = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      inner().agg(sum($"id" * $"bv"), count(lit(1))).collect()(0)
    }
    assert(agg == offAgg, s"skew parity: columnar=$agg row=$offAgg")
    // LEFT OUTER across chunk suspensions: the miss and null-key rows
    // survive exactly once each
    def louter() = spark.table("colshj_skew_stream")
      .join(build, $"k" === $"bk", "left_outer")
    assert(louter().count() == 8192L * 50 + 2)
    assert(louter().filter($"bk".isNull).select($"id").collect()
      .map(_.getLong(0)).sorted.sameElements(Array(9000L, 9001L)))
    spark.sql("DROP TABLE IF EXISTS colshj_skew_stream")
  }

  test("GraftColumnarRankGroupLimitExec: rank/dense_rank parity incl. heavy ties, nulls") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colrank").toString
    // tie-heavy: many groups share repeated order-key values; group 2 is
    // ALL ties; nulls order last under desc default
    val rnd = new scala.util.Random(7)
    (1 to 20000).map { i =>
      val g = rnd.nextInt(300).toLong
      val v = if (g == 2L) Option(5.0)
        else if (rnd.nextInt(20) == 0) Option.empty[Double]
        else Option(rnd.nextInt(6).toDouble)
      (i.toLong, g, v)
    }.toDF("id", "g", "v").write.mode("overwrite").parquet(s"$dir/t")
    for ((fn, expectExec) <- Seq("rank" -> true, "dense_rank" -> true)) {
      def q() = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"g").orderBy($"v".desc, $"id".asc_nulls_first)
        val c = if (fn == "rank") org.apache.spark.sql.functions.rank()
          else org.apache.spark.sql.functions.dense_rank()
        spark.read.parquet(s"$dir/t")
          .withColumn("rk", c.over(w)).filter($"rk" <= 3)
      }
      val cdf = q()
      cdf.collect()
      if (expectExec) {
        assert(findExec(cdf) {
          case e: org.apache.spark.sql.execution.graft.GraftColumnarRankGroupLimitExec => e
        }.isDefined, s"$fn: expected columnar rank probe in:\n${cdf.queryExecution.executedPlan}")
      }
      val on = canon(cdf)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(q()) }
      assert(on == off, s"$fn parity: columnar size=${on.size} row size=${off.size}")
    }
    // ties-only ordering (no id tiebreak): rank emits ALL tied rows
    def tiesOnly() = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"g").orderBy($"v".desc)
      spark.read.parquet(s"$dir/t")
        .withColumn("rk", org.apache.spark.sql.functions.rank().over(w)).filter($"rk" <= 1)
    }
    val on = canon(tiesOnly())
    val off = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(tiesOnly()) }
    assert(on == off, s"ties-only parity: ${on.size} vs ${off.size}")
    // the wgl flag gates this probe too
    withSQLConf(org.apache.spark.sql.graft.GraftColumnarRule.wglEnabledKey -> "false") {
      val rdf = tiesOnly()
      rdf.collect()
      assert(findExec(rdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarRankGroupLimitExec => e
      }.isEmpty, "wgl flag must gate the rank probe")
    }
  }

  test("columnar join probes: date and timestamp single keys probe the unsafe relation") {
    // DateType/TimestampType are not IntegralType, so Spark never packs
    // them into a LongHashedRelation — the probes go through the
    // 1-field UnsafeRow path (the partition-date / event-time dim-join
    // shape). Nulls and misses exercise anti semantics.
    val dir = java.nio.file.Files.createTempDirectory("graft-coldatekey").toString
    Seq(
      (1L, Option("2024-01-01"), Option("2024-01-01 10:00:00")),
      (2L, Option("2024-01-02"), Option("2024-01-02 10:00:00")),
      (3L, Option.empty[String], Option.empty[String]),
      (4L, Option("2024-03-09"), Option("2024-03-09 10:00:00")),
      (5L, Option("2024-01-01"), Option("2024-01-01 10:00:00")))
      .toDF("id", "ds", "tss")
      .select($"id", $"ds".cast("date").as("d"), $"tss".cast("timestamp").as("ts"))
      .write.mode("overwrite").parquet(s"$dir/stream")
    val build = Seq(
      ("2024-01-01", "2024-01-01 10:00:00"),
      ("2024-01-02", "2024-01-02 10:00:00"),
      ("2024-12-31", "2024-12-31 10:00:00"))
      .toDF("bds", "btss").select($"bds".cast("date").as("bd"),
        $"btss".cast("timestamp").as("bts"))
    // broadcast semi/anti on the DATE key
    def bcast(tpe: String) = spark.read.parquet(s"$dir/stream")
      .join(broadcast(build.select($"bd")), $"d" === $"bd", tpe)
    for (tpe <- Seq("left_semi", "left_anti")) {
      val cdf = bcast(tpe)
      cdf.collect()
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarSemiBHJExec => e
      }.isDefined, s"$tpe date key: expected columnar probe in:\n${cdf.queryExecution.executedPlan}")
      val on = canon(cdf)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(bcast(tpe)) }
      assert(on == off, s"$tpe date key: columnar=$on row=$off")
    }
    assert(bcast("left_semi").select($"id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 5L)))
    assert(bcast("left_anti").select($"id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(3L, 4L)))
    // bucketed-stream shuffled INNER on the TIMESTAMP key
    val wh = java.nio.file.Files.createTempDirectory("graft-coltskey").toString
    spark.read.parquet(s"$dir/stream").write.format("parquet")
      .bucketBy(4, "ts").option("path", s"$wh/bkt")
      .mode("overwrite").saveAsTable("coldate_stream")
    def shj() = spark.table("coldate_stream")
      .join(build.select($"bts", lit("x").as("tag")).hint("shuffle_hash"),
        $"ts" === $"bts")
    val cdfI = shj()
    cdfI.collect()
    assert(findExec(cdfI) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarShuffledInnerJoinExec => e
    }.isDefined, s"timestamp-key inner SHJ expected in:\n${cdfI.queryExecution.executedPlan}")
    val onI = canon(cdfI)
    val offI = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(shj()) }
    assert(onI == offI, s"timestamp-key inner SHJ: columnar=$onI row=$offI")
    assert(onI.size == 3, s"ids 1,2,5 match on timestamp: $onI")
    spark.sql("DROP TABLE IF EXISTS coldate_stream")
  }

  test("columnar join probes: packed composite (int,int) keys incl. negatives parity") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colpack").toString
    // negatives exercise the sign-extension (head key) and masking
    // (tail key) of HashJoin.rewriteKeyExpr's packed-long layout;
    // (-1, -1) vs (-1, 1) etc. must not collide
    Seq(
      (1L, Option(-1), Option(-1)), (2L, Option(-1), Option(1)),
      (3L, Option(1), Option(-1)), (4L, Option(1), Option(1)),
      (5L, Option.empty[Int], Option(7)), (6L, Option(42), Option.empty[Int]),
      (7L, Option(Int.MinValue), Option(Int.MaxValue)), (8L, Option(0), Option(0)))
      .toDF("id", "k1", "k2").write.mode("overwrite").parquet(s"$dir/stream")
    val build = Seq((-1, -1, "a"), (1, 1, "b"), (Int.MinValue, Int.MaxValue, "c"), (9, 9, "d"))
      .toDF("b1", "b2", "tag")
    def bcast(tpe: String) = spark.read.parquet(s"$dir/stream")
      .join(broadcast(build), $"k1" === $"b1" && $"k2" === $"b2", tpe)
    for (tpe <- Seq("left_semi", "left_anti")) {
      val cdf = bcast(tpe)
      cdf.collect()
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarSemiBHJExec => e
      }.isDefined, s"$tpe packed: expected columnar probe in:\n${cdf.queryExecution.executedPlan}")
      val on = canon(cdf)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(bcast(tpe)) }
      assert(on == off, s"$tpe packed: columnar=$on row=$off")
    }
    // semi keeps exactly the exact-match ids: 1 (-1,-1), 4 (1,1), 7 (min,max)
    assert(bcast("left_semi").select($"id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 4L, 7L)))
    // inner shuffled probe with packed keys over a bucketed stream
    val wh = java.nio.file.Files.createTempDirectory("graft-colpackb").toString
    spark.read.parquet(s"$dir/stream").write.format("parquet")
      .bucketBy(4, "k1", "k2").option("path", s"$wh/bkt")
      .mode("overwrite").saveAsTable("colpack_stream")
    def shjInner() = spark.table("colpack_stream")
      .join(build.hint("shuffle_hash"), $"k1" === $"b1" && $"k2" === $"b2")
    val cdfI = shjInner()
    cdfI.collect()
    assert(findExec(cdfI) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarShuffledInnerJoinExec => e
    }.isDefined, s"packed inner SHJ expected in:\n${cdfI.queryExecution.executedPlan}")
    val onI = canon(cdfI)
    val offI = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(shjInner()) }
    assert(onI == offI, s"packed inner SHJ: columnar=$onI row=$offI")
    spark.sql("DROP TABLE IF EXISTS colpack_stream")
  }

  test("GraftColumnarSortExec: local sort parity incl. nulls, NaN/-0.0, strings, desc") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colsort").toString
    // single small file -> one scan partition, so sortWithinPartitions
    // is a total order and exact sequence equality is checkable
    Seq(
      (1L, Option(3.5), Option("beta")),
      (2L, Option(Double.NaN), Option("alpha")),
      (3L, Option.empty[Double], Option.empty[String]),
      (4L, Option(-0.0), Option("")),
      (5L, Option(0.0), Option("héllo")),
      (6L, Option(Double.NegativeInfinity), Option("beta")),
      (7L, Option(3.5), Option("Alpha")),
      (8L, Option(Double.PositiveInfinity), Option("zz")))
      .toDF("id", "d", "s")
      // Decimal64 lane: unscaled-long order == numeric order for a
      // fixed (p, s); negatives + a null exercise sign flip + placement
      .withColumn("dec", when($"id" === 3L, lit(null))
        .otherwise($"id" * lit(1.15) - lit(4.5)).cast("decimal(12,3)"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t")
    val sorts: Seq[(String, Seq[org.apache.spark.sql.Column])] = Seq(
      "double-nulls-first" -> Seq($"d".asc_nulls_first, $"id"),
      "double-desc-nulls-last" -> Seq($"d".desc_nulls_last, $"id"),
      "decimal-asc-nulls-first" -> Seq($"dec".asc_nulls_first, $"id"),
      "decimal-desc-nulls-last" -> Seq($"dec".desc_nulls_last, $"id"),
      "id-desc" -> Seq($"id".desc))
    val narrowOff = org.apache.spark.sql.graft.GraftColumnarRule.narrowSortEnabledKey -> "false"
    for ((label, keys) <- sorts) {
      // (id, d, dec) is the narrow all-numeric shape: the swap is on by default
      def sorted() = spark.read.parquet(s"$dir/t").select($"id", $"d", $"dec")
        .sortWithinPartitions(keys: _*)
      val cdf = sorted()
      val onRows = cdf.collect().map(_.toString).toSeq
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarSortExec => e
      }.isDefined, s"$label: expected columnar sort in:\n${cdf.queryExecution.executedPlan}")
      val offRows = withSQLConf(narrowOff) { sorted().collect().map(_.toString).toSeq }
      // id tiebreak makes every order total -> exact sequence equality
      assert(onRows == offRows, s"$label: columnar=$onRows row=$offRows")
    }
    // string and array columns are not narrow: those sorts keep the row path
    for (cols <- Seq(Seq($"id", $"s"),
        Seq($"id", org.apache.spark.sql.functions.array($"id").as("a")))) {
      val df = spark.read.parquet(s"$dir/t").select(cols: _*).sortWithinPartitions($"id")
      df.collect()
      assert(findExec(df) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarSortExec => e
      }.isEmpty, s"a non-narrow output must fall back:\n${df.queryExecution.executedPlan}")
    }
    // randomized radix-path parity at a size that exercises multi-pass
    // radix and long tie runs (seeded: deterministic)
    val rnd = new scala.util.Random(42)
    val big = (1 to 50000).map { i =>
      val d = rnd.nextInt(8) match {
        case 0 => Option.empty[Double]
        case 1 => Option(Double.NaN)
        case 2 => Option(if (rnd.nextBoolean()) 0.0 else -0.0)
        case 3 => Option(rnd.nextInt(50).toDouble) // fat tie runs
        case _ => Option(rnd.nextDouble() * 1e6 - 5e5)
      }
      val k = rnd.nextInt(4) match {
        case 0 => Option.empty[Long]
        case _ => Option(rnd.nextLong() % 1000)
      }
      (i.toLong, d, k)
    }
    big.toDF("id", "d", "k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/big")
    for (keys <- Seq(
        Seq($"d".desc_nulls_first, $"k".asc_nulls_last, $"id"),
        Seq($"k".asc_nulls_first, $"d".desc_nulls_last, $"id"),
        Seq($"id".desc))) {
      def sorted() = spark.read.parquet(s"$dir/big").sortWithinPartitions(keys: _*)
      val cdf = sorted()
      val onRows = cdf.collect().map(_.toString).toSeq
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarSortExec => e
      }.isDefined, s"expected columnar sort in:\n${cdf.queryExecution.executedPlan}")
      val offRows = withSQLConf(narrowOff) { sorted().collect().map(_.toString).toSeq }
      assert(onRows == offRows, s"radix parity failed for $keys")
    }
  }

  test("GraftColumnarFinalAggExec merges buffers identically to the row final HashAggregate") {
    // all supported spec kinds at once, null keys, null-only groups,
    // multi-flush partials (tiny maxGroups forces duplicate buffer rows
    // per key so the final merge is genuinely exercised)
    val dir = java.nio.file.Files.createTempDirectory("graft-finalagg").toString
    Seq(
      (Option(1L), Option(1.5), Option(10), Option("b"), Option(2.0f)),
      (Option(1L), Option(2.5), Option(3), Option("a"), Option.empty[Float]),
      (Option(2L), Option.empty[Double], Option.empty[Int], Option.empty[String], Option(1.0f)),
      (Option.empty[Long], Option(9.0), Option(7), Option("z"), Option(3.5f)),
      (Option.empty[Long], Option(1.0), Option(8), Option("y"), Option(0.5f)),
      (Option(3L), Option(Double.NaN), Option(5), Option("m"), Option(4.0f)))
      .toDF("k", "d", "n", "s", "f")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/t")
    // no string min/max: those buffers force a SortAggregate, which
    // neither the partial nor the final columnar swap targets
    def q() = spark.read.parquet(s"$dir/t")
      .groupBy($"k")
      .agg(count(lit(1)).as("cnt"), count($"d").as("cnt_d"), sum($"d").as("sum_d"),
        min($"n").as("min_n"), max($"n").as("max_n"),
        max($"d").as("max_d"), min($"f").as("min_f"), avg($"n").as("avg_n"))
    withSQLConf(org.apache.spark.sql.graft.GraftColumnarGroupedAggExec.maxGroupsKey -> "1") {
      val cdf = q()
      cdf.collect()
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarFinalAggExec => e
      }.isDefined, s"expected columnar final agg in:\n${cdf.queryExecution.executedPlan}")
      val on = canon(cdf)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.finalAggEnabledKey -> "false") {
        val rdf = q()
        rdf.collect()
        assert(findExec(rdf) {
          case e: org.apache.spark.sql.execution.graft.GraftColumnarFinalAggExec => e
        }.isEmpty, "finalAgg flag must gate the swap")
        canon(rdf)
      }
      assert(on == off, s"columnar=$on row=$off")
    }
  }

  test("GraftColumnarExpandExec: rollup/cube/grouping-sets parity with the row Expand") {
    val li = Tables.t(spark, sfDir, "lineitem")
    def rollup() = li.rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("q"),
        avg($"l_discount").as("d"), max($"l_orderkey").as("mk"))
    def cube() = li.cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), min($"l_extendedprice").as("mn"))
    def gsets() = spark.sql(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q
         |FROM parquet.`$sfDir/lineitem.parquet`
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    for ((mk, label) <- Seq((rollup _, "rollup"), (cube _, "cube"), (gsets _, "gsets"))) {
      val cdf = mk()
      cdf.collect()
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarExpandExec => e
      }.isDefined, s"$label: expected columnar Expand in:\n${cdf.queryExecution.executedPlan}")
      val on = canon(cdf)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(mk()) }
      assert(on == off, s"$label: columnar=$on row=$off")
    }
    // the double-algebra rollup keeps the WHOLE pre-shuffle stage
    // columnar: Expand feeds the grouped partial agg without a
    // transition (the reference pairing, expand.rs → agg)
    val df = rollup()
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GraftColumnarExpand") && p.contains("GraftColumnarGroupedAgg"),
      s"expected Expand→GroupedAgg both columnar in:\n$p")
    // the grouped agg's direct child must be the columnar Expand — no
    // transition between them
    val direct = findExec(df) {
      case a: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec
          if a.child.isInstanceOf[org.apache.spark.sql.execution.graft.GraftColumnarExpandExec] => a
    }
    assert(direct.isDefined, s"expected GroupedAgg(Expand(..)) pairing in:\n$p")
  }

  test("Decimal64 columnar project matches the row path on cast/overflow/tie edges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-coldec").toString
    // covers: HALF_UP ties (0.125 binary-exact, 2.675 binary-inexact),
    // negatives, NaN/±Inf (→ null every mode), magnitudes overflowing
    // DECIMAL(6,2), null input, and sub-cent values
    Seq(Option(12.34), Option(0.125), Option(-0.125), Option(2.675), Option(-98765.432),
      Option(Double.NaN), Option(Double.PositiveInfinity), Option(Double.NegativeInfinity),
      Option(99999.999), Option(-99999.999), Option.empty[Double], Option(0.004999))
      .toDF("p").write.mode("overwrite").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    def q() = t.select(
      $"p".cast("decimal(6,2)").as("d62"),
      ($"p".cast("decimal(9,2)") * (lit(1).cast("decimal(7,4)") -
        lit(0.05).cast("decimal(7,4)"))).as("net"),
      ($"p".cast("decimal(12,2)") + $"p".cast("decimal(12,2)")).as("twice"),
      $"p".cast("decimal(12,2)").cast("decimal(14,4)").as("up"),
      $"p".cast("decimal(12,4)").cast("decimal(7,1)").as("down"),
      (-$"p".cast("decimal(9,2)")).as("neg"),
      abs($"p".cast("decimal(9,2)")).as("absd"),
      $"p".cast("decimal(9,2)").cast("double").as("back"))
    // LEGACY (ansi off): overflow → null; the overflowing rows stay in
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      val cdf = q()
      cdf.collect()
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
      }.isDefined, s"expected columnar project in:\n${cdf.queryExecution.executedPlan}")
      val on = canon(cdf)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(q()) }
      assert(on == off, s"columnar=$on row=$off")
    }
    // ANSI: overflowing cast throws on BOTH paths; clean subset matches
    withSQLConf("spark.sql.ansi.enabled" -> "true") {
      def clean() = t.filter($"p".isNull || (abs($"p") < 9000 && $"p" === $"p"))
        .select(($"p".cast("decimal(9,2)") * lit(2).cast("decimal(3,0)")).as("dbl"),
          $"p".cast("decimal(12,2)").cast("decimal(14,4)").as("up"))
      val onA = canon(clean())
      val offA = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(clean()) }
      assert(onA == offA, s"ansi columnar=$onA row=$offA")
      intercept[Exception] { t.select($"p".cast("decimal(4,2)")).collect() }
      withSQLConf(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
        intercept[Exception] { t.select($"p".cast("decimal(4,2)")).collect() }
      }
    }
    // TRY cast: null-on-overflow on the columnar path too
    val tryOn = canon(t.selectExpr("try_cast(p as decimal(4,2)) as t42"))
    val tryOff = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
      canon(t.selectExpr("try_cast(p as decimal(4,2)) as t42"))
    }
    assert(tryOn == tryOff, s"try columnar=$tryOn row=$tryOff")
  }

  test("pii_detect/pii_redact: per-class semantics, null propagation, codegen parity") {
    val rows = spark.sql(
      """SELECT pii_detect(t) AS classes, pii_redact(t) AS red,
        |       pii_redact(t, 'email,ssn') AS partial
        |FROM VALUES
        |  ('mail bob.smith+x@sub.example.org now'),
        |  ('call 555-123-4567 or card 4111 1111 1111 1234'),
        |  ('ssn 123-45-6789 ip 192.168.0.1'),
        |  ('nothing to see here'),
        |  (CAST(NULL AS STRING)) AS v(t)""".stripMargin).collect()
    assert(rows(0).getString(0) == "email")
    assert(rows(0).getString(1) == "mail [EMAIL] now")
    assert(rows(1).getString(0) == "cc,phone")
    assert(rows(1).getString(1) == "call [PHONE] or card [CC]")
    assert(rows(1).getString(2) == "call 555-123-4567 or card 4111 1111 1111 1234")
    assert(rows(2).getString(0) == "ip,ssn")
    assert(rows(2).getString(1) == "ssn [SSN] ip [IP]")
    assert(rows(2).getString(2) == "ssn [SSN] ip 192.168.0.1")
    assert(rows(3).getString(0) == "" && rows(3).getString(1) == "nothing to see here")
    assert(rows(4).isNullAt(0) && rows(4).isNullAt(1) && rows(4).isNullAt(2))
    // interpreted path must agree with codegen
    val cg = withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      spark.sql("SELECT pii_redact('a x@y.zz 123-45-6789 b')").collect().head.getString(0)
    }
    assert(cg == "a [EMAIL] [SSN] b")
  }

  test("pii functions reject unknown class names at analysis, not on executors") {
    val e = intercept[Exception] {
      spark.sql("SELECT pii_redact('x', 'passport')").collect()
    }
    assert(e.getMessage.contains("unsupported PII class"),
      s"expected class-validation error, got: ${e.getMessage}")
    val e2 = intercept[Exception] {
      spark.sql("SELECT pii_detect('x', upper('email'))").collect()
    }
    assert(e2.getMessage.contains("string literal"),
      s"expected literal-arg error, got: ${e2.getMessage}")
  }

  test("pii_redact projection falls back from the columnar path with a tagged reason") {
    // The columnar project kernels don't compile pii_redact — the rule
    // must leave the row ProjectExec in place and tag why.
    val df = Tables.t(spark, sfDir, "documents")
      .selectExpr("pii_redact(text) AS clean")
    df.collect()
    val tagged = findExec(df) {
      case p: org.apache.spark.sql.execution.ProjectExec
          if p.getTagValue(org.apache.spark.sql.graft.GraftColumnarRule.fallbackReasonTag).isDefined =>
        p.getTagValue(org.apache.spark.sql.graft.GraftColumnarRule.fallbackReasonTag).get
    }
    assert(tagged.isDefined, s"expected fallback tag in:\n${df.queryExecution.executedPlan}")
  }

  test("GraftColumnarBHJExec IntegerType key: sign-extended probe matches the Cast-to-Long build") {
    // Spark rewrites the single int build key to Cast(k, Long) — sign
    // extension. Negative keys are the case where a zero-extending
    // probe (packedKeyGetter's single-key getter) would silently miss
    // every match.
    val dir = java.nio.file.Files.createTempDirectory("graft-colsemi-int").toString
    Seq((1L, Option(-5), 1.5), (2L, Option(7), 2.5), (3L, Option.empty[Int], 3.5),
      (4L, Option(-5), 4.5), (5L, Option(Int.MinValue), 5.5), (6L, Option(-6), 6.5))
      .toDF("id", "k", "v").write.mode("overwrite").parquet(s"$dir/stream")
    Seq((-5, Option("neg")), (7, Option("pos")), (Int.MinValue, Option("min")))
      .toDF("bk", "tag").write.mode("overwrite").parquet(s"$dir/build")
    def join(tpe: String) = {
      val st = spark.read.parquet(s"$dir/stream")
      val bd = spark.read.parquet(s"$dir/build")
      st.join(broadcast(bd), $"k" === $"bk", tpe)
    }
    for (tpe <- Seq("left_semi", "left_anti")) {
      val cdf = join(tpe)
      val on = canon(cdf)
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarSemiBHJExec => e
      }.isDefined, s"$tpe: expected columnar probe on int key:\n${cdf.queryExecution.executedPlan}")
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(join(tpe)) }
      assert(on == off, s"$tpe: columnar=$on row=$off")
    }
    // semi: ids 1,2,4,5 match; anti: id3 (null key) and id6 (missing key)
    assert(join("left_semi").select($"id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 4L, 5L)))
    assert(join("left_anti").select($"id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(3L, 6L)))
  }

  test("observe() surfaces per-query metrics without a second pass") {
    // The query-metrics surface (reference: per-operator native
    // metrics; Spark-first twin: CollectMetrics). One pass computes
    // both the result and the observed aggregates.
    val obs = new org.apache.spark.sql.util.QueryExecutionListener {
      @volatile var seen: Option[org.apache.spark.sql.Row] = None
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.get("gate_stats").foreach(r => seen = Some(r))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(obs)
    try {
      val out = Tables.t(spark, sfDir, "documents")
        .observe("gate_stats",
          count(lit(1)).as("n_in"),
          sum(when(length($"text") >= 50, 1L).otherwise(0L)).as("n_long"))
        .filter(length($"text") >= 50)
      val kept = out.count()
      // listener delivery is async; poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      while (obs.seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(obs.seen.isDefined, "observed metrics never arrived")
      val r = obs.seen.get
      assert(r.getAs[Long]("n_long") == kept,
        s"observed ${r.getAs[Long]("n_long")} != counted $kept")
      assert(r.getAs[Long]("n_in") >= kept)
    } finally spark.listenerManager.unregister(obs)
  }

  test("capped dedup emits the hot-shingle list size as an observed metric") {
    // DedupQueries.jaccardPairs broadcasts its hot-shingle drop list —
    // tiny by construction (df > K shingles only) but a DATA property,
    // not a structural bound, so the size is observed: a production run
    // alarms on graft.dedup.hot_shingles before the driver materializes
    // a pathological list.
    val obs = new org.apache.spark.sql.util.QueryExecutionListener {
      @volatile var seen: Option[org.apache.spark.sql.Row] = None
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.get("graft.dedup.hot_shingles").foreach(r => seen = Some(r))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(obs)
    try {
      // "p q r" appears in 3 docs > k=2 → hot; docs 1/2 still share 2
      // surviving trigrams (J=0.5), so the FINAL result is non-empty.
      // That matters: if any stage of the query materializes 0 rows, AQE
      // propagates EmptyRelation and prunes the CollectMetrics node with
      // the rest of the plan — no rows, no metric, by design.
      val docs = Seq(
          (1L, "p q r s t u"), (2L, "p q r s t v"),
          (3L, "p q r x y z"))
        .toDF("doc_id", "text")
      val out = queries.DedupQueries.jaccardPairs(docs, 0.1, maxShingleFreq = Some(2)).collect()
      assert(out.nonEmpty, "fixture must keep the final answer non-empty")
      val deadline = System.nanoTime() + 10_000_000_000L
      while (obs.seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(obs.seen.isDefined, "graft.dedup.hot_shingles metric never arrived")
      assert(obs.seen.get.getAs[Long]("hot_count") > 0L)
    } finally spark.listenerManager.unregister(obs)
  }

  test("GraftExplain reports fallback reasons; empty when everything swapped") {
    // format_string is printf-varargs — unsupported by the string
    // kernels (initcap and rlike, this test's previous specimens, both
    // swap as of r15)
    val fell = Tables.t(spark, sfDir, "documents")
      .select(format_string("<%s>", $"lang").as("lc"))
    fell.collect()
    val rep = graft.engine.GraftExplain.report(fell)
    assert(rep.contains("row path"), s"expected a fallback line, got: '$rep'")
    assert(graft.engine.GraftExplain.fallbackReasons(fell).nonEmpty)
    // a fully-supported projection leaves no fallback tags
    val swapped = Tables.t(spark, sfDir, "documents")
      .select(upper($"lang").as("u"))
    swapped.collect()
    assert(graft.engine.GraftExplain.report(swapped).isEmpty,
      s"expected clean report:\n${graft.engine.GraftExplain.report(swapped)}")
  }

  test("GraftColumnarRule tags un-swapped filters with a fallback reason") {
    // a NON-LITERAL rlike pattern is not kernel-compiled — the tagged
    // row path (length(lang) > 2 and literal-pattern rlike both USED to
    // be this test's specimens until their lanes made them swap —
    // asserted below)
    val df = Tables.t(spark, sfDir, "documents")
      .filter(expr("lang rlike concat('^e', substring(source, 1, 0))"))
    df.collect()
    val tagged = findExec(df) {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.getTagValue(org.apache.spark.sql.graft.GraftColumnarRule.fallbackReasonTag).isDefined =>
        f.getTagValue(org.apache.spark.sql.graft.GraftColumnarRule.fallbackReasonTag).get
    }
    assert(tagged.isDefined, s"expected fallback tag in:\n${df.queryExecution.executedPlan}")
    assert(tagged.get.contains("rlike needs"), s"reason: ${tagged.get}")
    val lenDf = Tables.t(spark, sfDir, "documents").filter(length($"lang") > 2)
    lenDf.collect()
    assert(findExec(lenDf) {
      case e: org.apache.spark.sql.graft.GraftColumnarFilterExec => e
    }.isDefined, s"length predicate should swap now:\n${lenDf.queryExecution.executedPlan}")
  }

  test("GraftColumnarWindowGroupLimitExec: rank-1/top-k-per-key parity incl. nulls, ties, flush") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colwgl").toString
    // 2-part keys (long, string incl. null), duplicate order keys (tie →
    // id tiebreak), null order keys, keys spread across partitions
    val rows = (0 until 400).map { i =>
      (i.toLong, (i % 23).toLong,
        if (i % 11 == 0) Option.empty[String] else Some(s"t${i % 3}"),
        if (i % 17 == 0) Option.empty[Long] else Some((i * 37 % 100).toLong))
    }
    rows.toDF("id", "k", "typ", "ts").repartition(4)
      .write.mode("overwrite").parquet(dir)
    def q(k: Int) = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"k", $"typ").orderBy($"ts".desc, $"id".desc)
      spark.read.parquet(dir)
        .withColumn("rn", row_number().over(w)).filter($"rn" <= k)
        .select($"k", $"typ", $"ts", $"id")
    }
    for (k <- Seq(1, 3)) {
      val cdf = q(k)
      cdf.collect()
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowGroupLimitExec => e
      }.isDefined, s"k=$k: expected the columnar WGL probe in:\n${cdf.queryExecution.executedPlan}")
      val on = canon(cdf)
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { canon(q(k)) }
      assert(on == off, s"k=$k: columnar=${on.take(5)}... row=${off.take(5)}...")
      // overflow flush (maxGroups=3 << 23x4 groups) must not change results
      val flushed = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.wglMaxGroupsKey -> "3") { canon(q(k)) }
      assert(flushed == off, s"k=$k flush path diverged")
    }
    // rank() keeps ties → row path with a tagged reason
    def rq = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"k").orderBy($"ts".desc)
      spark.read.parquet(dir)
        .withColumn("rk", rank().over(w)).filter($"rk" <= 2)
    }
    val rdf = rq
    rdf.collect()
    assert(findExec(rdf) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowGroupLimitExec => e
    }.isEmpty, s"rank() must stay row:\n${rdf.queryExecution.executedPlan}")
    // flag gates the swap
    withSQLConf(org.apache.spark.sql.graft.GraftColumnarRule.wglEnabledKey -> "false") {
      val gdf = q(1)
      gdf.collect()
      assert(findExec(gdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarWindowGroupLimitExec => e
      }.isEmpty, "wgl flag must gate the swap")
    }
  }

  test("GraftColumnarTopKExec: parity with the row TakeOrderedAndProject incl. nulls, NaN, ties") {
    val dir = java.nio.file.Files.createTempDirectory("graft-coltopk").toString
    // null sort keys, NaN/-0.0/0.0 doubles, duplicate primary keys (ties
    // broken by id), unicode strings
    Seq(
      (1L, Option(5.0), Option("b")), (2L, Option(Double.NaN), Option("a")),
      (3L, Option.empty[Double], Option("ß")), (4L, Option(-0.0), Option("a")),
      (5L, Option(0.0), Option.empty[String]), (6L, Option(5.0), Option("日本")),
      (7L, Option(-3.5), Option("A")), (8L, Option.empty[Double], Option("z")),
      (9L, Option(12.25), Option("b")), (10L, Option(5.0), Option("")))
      .toDF("id", "score", "tag")
      // Decimal64 key lane: negatives + nulls, fixed (12,2) scale
      // (NaN guarded: ANSI would reject the NaN→decimal cast)
      .withColumn("amt", when($"id" === 5L || isnan($"score"), lit(null))
        .otherwise($"score" * lit(-3.0) + $"id").cast("decimal(12,2)"))
      .write.mode("overwrite").parquet(dir)
    def q(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      mk(spark.read.parquet(dir))
    val shapes: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
      _.orderBy($"score".desc, $"id").limit(3),                   // NaN largest first
      _.orderBy($"score".desc_nulls_first, $"id").limit(4),       // null handling flip
      _.orderBy($"score".asc, $"id".desc).limit(5),               // -0.0 == 0.0 tie → id desc
      _.orderBy($"tag".asc_nulls_first, $"id").limit(4),          // string binary order
      _.filter($"id" =!= 9L).orderBy($"id".desc).limit(3),        // long key over columnar filter
      _.orderBy($"amt".desc_nulls_last, $"id").limit(4),          // Decimal64 unscaled-long key
      _.orderBy($"amt".asc_nulls_first, $"id".desc).limit(5),     // decimal asc + null first
      _.orderBy($"score".desc, $"id").limit(100))                 // k > #rows
    shapes.zipWithIndex.foreach { case (mk, i) =>
      val cdf = q(mk)
      cdf.collect()
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarTopKExec => e
      }.isDefined, s"shape $i: expected columnar top-k in:\n${cdf.queryExecution.executedPlan}")
      // ordered compare — top-k output order is part of the contract
      val on = q(mk).collect().map(_.toString).toSeq
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
        q(mk).collect().map(_.toString).toSeq
      }
      assert(on == off, s"shape $i: columnar=$on row=$off")
    }
    // OFFSET shapes: the planner folds LIMIT+OFFSET into one
    // TakeOrderedAndProject (limit = fetch+offset); the columnar probe
    // keeps the full top-limit and drops offset at the sorted emit —
    // ordered parity vs the row operator is the contract
    val offsetShapes: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
      _.orderBy($"score".desc, $"id").offset(2).limit(3),     // mid-window
      _.orderBy($"id".asc).offset(7).limit(5),                // window past #rows tail
      _.orderBy($"tag".asc_nulls_first, $"id").offset(1).limit(2), // nulls into the skip
      _.orderBy($"score".desc, $"id").offset(9).limit(4))     // nearly-empty emit
    offsetShapes.zipWithIndex.foreach { case (mk, i) =>
      val cdf = q(mk)
      cdf.collect()
      assert(findExec(cdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarTopKExec => e
      }.isDefined,
        s"offset shape $i: expected columnar top-k in:\n${cdf.queryExecution.executedPlan}")
      val on = q(mk).collect().map(_.toString).toSeq
      val off = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
        q(mk).collect().map(_.toString).toSeq
      }
      assert(on == off, s"offset shape $i: columnar=$on row=$off")
    }
    // computed sort key → row path with a tagged reason
    val computed = q(_.orderBy(($"score" * 2.0).desc, $"id").limit(3))
    computed.collect()
    assert(findExec(computed) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarTopKExec => e
    }.isEmpty, s"computed key must stay row:\n${computed.queryExecution.executedPlan}")
    // the flag gates the swap
    withSQLConf(org.apache.spark.sql.graft.GraftColumnarRule.topkEnabledKey -> "false") {
      val rdf = q(_.orderBy($"id".desc).limit(3))
      rdf.collect()
      assert(findExec(rdf) {
        case e: org.apache.spark.sql.execution.graft.GraftColumnarTopKExec => e
      }.isEmpty, "topk flag must gate the swap")
    }
  }

  test("computed string IN (the Q22 prefix gate) compiles through the kernel language") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-strin").toString
    Seq((1, Option("13-555-1234")), (2, Option("31-555-9999")), (3, Option("99-000-0000")),
      (4, Option.empty[String]), (5, Option("3")))
      .toDF("id", "phone").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.select($"id").collect().map(_.getInt(0)).toSet
    val small = t.filter(substring($"phone", 1, 2).isin("13", "31", "23"))
    assert(ids(small) == Set(1, 2))
    assert(findExec(small) {
      case e: org.apache.spark.sql.graft.GraftColumnarFilterExec => e
    }.isDefined, s"computed string IN must swap:\n${small.queryExecution.executedPlan}")
    checkInvariantUnder(small,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
    // > 10 elements → Catalyst rewrites to InSet; same kernel
    val big = t.filter(substring($"phone", 1, 2)
      .isin((10 to 31).map(_.toString): _*))
    assert(ids(big) == Set(1, 2))
    checkInvariantUnder(big,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
    // computed LONG operand (the q107 country-code shape), In and InSet
    val lmod = t.filter(($"id" % 3).isin(1, 2))
    assert(ids(lmod) == Set(1, 2, 4, 5))
    assert(findExec(lmod) {
      case e: org.apache.spark.sql.graft.GraftColumnarFilterExec => e
    }.isDefined, s"computed long IN must swap:\n${lmod.queryExecution.executedPlan}")
    checkInvariantUnder(lmod,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
    checkInvariantUnder(t.filter(($"id" % 17).isin(1 to 12: _*)),
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
    // computed null probes: is(not)null over shapes the null-chain
    // cannot reduce (a conditional), long and string lanes
    val np = t.filter(when($"id" > 2, $"phone").otherwise(lit(null)).isNotNull)
    assert(ids(np) == Set(3, 5))
    checkInvariantUnder(np,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
    checkInvariantUnder(
      t.filter(when($"id" % 2 === 0, $"id" * 2).otherwise(lit(null)).isNull),
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("split projections produce array<string> vectors matching the row path") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-split").toString
    Seq(
      (1, Option("alpha beta gamma")),
      (2, Option("one  two   three ")), // runs of separators + trailing
      (3, Option("")),
      (4, Option.empty[String]),
      (5, Option(" leading and-trailing ")),
      (6, Option("nospace")))
      .toDF("id", "text").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def q() = t.select($"id",
      split($"text", " ").as("ws"),
      split($"text", "\\s+").as("wr"),      // regex pattern
      split($"text", " ", 2).as("w2"),      // explicit limit
      split(upper($"text"), "-").as("wu"))  // computed subject
    val on = q()
    on.collect()
    assert(findExec(on) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"expected the split project columnar in:\n${
      on.queryExecution.executedPlan}")
    checkInvariantUnder(q(),
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
    // downstream consumption through explode (the q126 tokenize shape)
    def tok() = t.select($"id", explode(split($"text", " ")).as("w"))
      .groupBy($"w").count().orderBy($"w")
    checkInvariantUnder(tok(),
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("approx_count_distinct merges its HLL buffers columnar in the final stage") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-hll").toString
    (1 to 5000).map(i => (i % 13, i % 700, s"v${i % 450}", if (i % 11 == 0) None else Some(i % 300L)))
      .toDF("g", "v", "s", "nv").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def q() = t.groupBy($"g").agg(
      approx_count_distinct($"v").as("ad"),
      approx_count_distinct($"s", 0.02).as("ads"), // different rsd → different numWords
      approx_count_distinct($"nv").as("adn"),      // nullable input
      count(lit(1)).as("n"))
      .orderBy($"g")
    val on = q()
    on.collect()
    assert(findExec(on) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarFinalAggExec => e
    }.isDefined, s"expected the HLL final merge columnar in:\n${
      on.queryExecution.executedPlan}")
    checkInvariantUnder(q(),
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("bloom might_contain filter probes columnar against the row path") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    (1L to 4000L).map(i => (i, s"grp${i % 7}", i % 100))
      .toDF("k", "g", "m").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("bloom_probe_t")
    // the q76 shape: scalar-subquery bloom + xxhash64 probe; the bloom
    // admits ~1/10 of the keys (plus false positives)
    def q() = spark.sql("""
      SELECT g, count(*) AS n FROM bloom_probe_t
      WHERE might_contain(
              (SELECT bloom_filter_agg(xxhash64(k)) FROM bloom_probe_t WHERE m = 0),
              xxhash64(k))
      GROUP BY g ORDER BY g""")
    val on = q()
    on.collect()
    assert(findExec(on) {
      case e: org.apache.spark.sql.graft.GraftColumnarFilterExec => e
    }.isDefined, s"expected the bloom probe filter columnar in:\n${
      on.queryExecution.executedPlan}")
    checkInvariantUnder(q(),
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("array fold kernels: aggregate/zip_with/transform/element_at match the row path") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-arrfold").toString
    Seq(
      (1, Option(Array(1.0f, 2.0f, 3.0f)), Option(Array(0.5, 0.25, 4.0)), Option(2.0)),
      (2, Option(Array(-1.5f, 0.0f)), Option(Array(2.0, 3.0, 9.0)), Option(0.5)), // len mismatch → zip pads null
      (3, Option.empty[Array[Float]], Option(Array(1.0)), Option(1.0)),           // null array
      (4, Option(Array.empty[Float]), Option(Array.empty[Double]), Option(3.0)),  // empty → init
      (5, Option(Array(4.0f, 5.0f, 6.0f)), Option(Array(1.0, 1.0, 1.0)), Option.empty[Double]))
      .toDF("id", "a", "b", "nrm").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def asD(c: org.apache.spark.sql.Column) = transform(c, x => x.cast("double"))
    val df = t.select($"id",
      // dot product: zip_with of two transformed arrays, additive fold
      aggregate(zip_with(asD($"a"), $"b", (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("dot"),
      // sum of squares over a transform with an OUTER scalar reference
      aggregate(transform($"a", x => x.cast("double") / $"nrm"),
        lit(0.0), (acc, x) => acc + x * x).as("nsq"),
      // merge referencing the element twice (acc + x*x directly)
      aggregate(asD($"b"), lit(1.5), (acc, x) => acc + x * x).as("sq_b"),
      // element extraction through the transform chain
      element_at(asD($"a"), 1).as("a1"),
      element_at(asD($"b"), 3).as("b3"), // len 1/0 rows → OOB
      // fold composing with the scalar math lane
      sqrt(aggregate(asD($"a"), lit(0.0), (acc, x) => acc + x * x)).as("l2"))
    // OOB element_at under ANSI throws on rows 2-4 — pin LEGACY for the
    // value grid, ANSI separately below
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      val df2 = t.select($"id",
        aggregate(zip_with(asD($"a"), $"b", (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("dot"),
        aggregate(transform($"a", x => x.cast("double") / $"nrm"),
          lit(0.0), (acc, x) => acc + x * x).as("nsq"),
        aggregate(asD($"b"), lit(1.5), (acc, x) => acc + x * x).as("sq_b"),
        element_at(asD($"a"), 1).as("a1"),
        element_at(asD($"b"), 3).as("b3"),
        sqrt(aggregate(asD($"a"), lit(0.0), (acc, x) => acc + x * x)).as("l2"))
      assert(findExec(df2) {
        case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
      }.isDefined, s"expected the array-fold project to swap in:\n${
        df2.queryExecution.executedPlan}")
      checkInvariantUnder(df2,
        Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
      // spot-check the semantics the kernel replicates
      val rows = df2.orderBy($"id").collect()
      assert(rows(0).getDouble(1) == 1.0 * 0.5 + 2.0 * 0.25 + 3.0 * 4.0) // dot
      assert(rows(1).isNullAt(1), "zip length mismatch must null the fold")
      assert(rows(2).isNullAt(1), "null array must null the fold")
      assert(rows(3).getDouble(3) == 1.5, "empty fold must return the init")
      assert(rows(2).isNullAt(5) && rows(3).isNullAt(5),
        "element_at past the end is NULL in LEGACY")
      assert(rows(4).isNullAt(2), "null outer scalar must null the fold")
    }
    // ANSI element_at OOB: identical error through both paths
    def err(body: => Unit): String = {
      val e = intercept[Exception] { body }
      val root = Option(e.getCause).getOrElse(e)
      s"${root.getClass.getName}:${Option(root.getMessage).getOrElse("").take(60)}"
    }
    val oob = t.filter($"id" === 3).select(element_at(asD($"b"), 3).as("x"))
    val colErr = err(oob.collect())
    val rowErr = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { err(oob.collect()) }
    assert(colErr == rowErr, s"ANSI element_at OOB must match: col=$colErr row=$rowErr")
    // masked branch: OOB only on rows the condition excludes — the lazy
    // mask must suppress the kernel's throw exactly like the row path
    val masked = t.select($"id",
      when($"id" === 1, element_at(asD($"b"), 3)).otherwise(lit(0.0)).as("m"))
    checkInvariantUnder(masked,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
    // ANSI value grid on the rows where everything is in bounds
    val safe = t.filter($"id" === 1).select(
      aggregate(zip_with(asD($"a"), $"b", (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("dot"),
      element_at(asD($"b"), 3).as("b3"))
    checkInvariantUnder(safe,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("array fold kernels: integer-element dot product and ANSI short-circuit edges") {
    import org.apache.spark.sql.functions._
    // r15 ADVICE regressions: (1) the DotFoldD fusion must not fire on
    // non-floating element types (its loop loads via getDouble/getFloat
    // only); (2) BinaryExpression.eval short-circuits on a null LEFT
    // operand, so ANSI throw sites to the right of a null must NOT fire;
    // (3) ElementAt materializes the transformed array fully, so an
    // ANSI divide at a non-extracted index must still throw.
    val dir = java.nio.file.Files.createTempDirectory("graft-arrfold2").toString
    Seq(
      (1, Option(Array(1, 2, 3)), Option(Array(4L, 5L, 6L)),
        Option(Array(Option(1.0), Option(2.0))), Option(Array(Option(2.0), Option(4.0)))),
      (2, Option(Array(7, 8)), Option(Array(2L, 3L)),
        Option(Array(Option.empty[Double], Option(0.0))), Option(Array(Option(0.0), Option(1.0)))),
      (3, Option.empty[Array[Int]], Option(Array(1L)),
        Option(Array(Option(3.0))), Option(Array(Option(5.0)))))
      .toDF("id", "ia", "la", "da", "db").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    // (1) int×long dot product: the cast-eliding compile reaches the
    // DotFoldD fuse pattern with integral element types — must route to
    // ArrayFoldD (typed loads) and match the row path exactly
    val intDot = t.select($"id",
      aggregate(zip_with($"ia", $"la",
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("dot"))
    assert(findExec(intDot) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"int-element fold must still swap in (via ArrayFoldD):\n${
      intDot.queryExecution.executedPlan}")
    val r = intDot.orderBy($"id").collect()
    assert(r(0).getDouble(1) == 4.0 + 10.0 + 18.0, "int dot product value")
    assert(r(1).getDouble(1) == 14.0 + 24.0)
    assert(r(2).isNullAt(1))
    checkInvariantUnder(intDot,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
    withSQLConf("spark.sql.ansi.enabled" -> "true") {
      // (2a) zip lambda x + 1.0/y where row 2 has x=null,y=0.0 at the
      // same index: Add's null left short-circuits — the ANSI divide
      // must NOT throw on either path
      val sc = t.select($"id",
        aggregate(zip_with($"da", $"db", (x, y) => x + lit(1.0) / y),
          lit(0.0), (acc, x) => acc + x).as("s"))
      val scr = sc.orderBy($"id").collect()
      assert(scr(1).isNullAt(1), "null-left Add must suppress the ANSI divide throw")
      checkInvariantUnder(sc,
        Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
      // (2b) ANSI divide in the MERGE with acc on the left: once acc is
      // null (the null element at index 0 of row 2's da), Add(acc, g(x))
      // stops evaluating g — the 1.0/x throw at the next element (0.0)
      // must not fire. The compiler keeps this shape on the row path.
      val mg = t.select($"id",
        aggregate($"da", lit(0.0), (acc, x) => acc + lit(1.0) / x).as("m"))
      val mgr = mg.orderBy($"id").collect()
      assert(mgr(1).isNullAt(1), "acc-on-left merge must short-circuit its ANSI divide")
      checkInvariantUnder(mg,
        Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
      // (3) element_at over an ANSI-divide transform chain: the zero at
      // index 2 of row 2's db must throw even though index 1 is taken —
      // identical error through both paths (the gate keeps it row-side)
      def err(body: => Unit): String = {
        val e = intercept[Exception] { body }
        val root = Option(e.getCause).getOrElse(e)
        s"${root.getClass.getName}:${Option(root.getMessage).getOrElse("").take(60)}"
      }
      val ea = t.filter($"id" === 2)
        .select(element_at(transform($"db", x => lit(1.0) / x), 2).as("x"))
      val colErr = err(ea.collect())
      val rowErr = withSQLConf(
        org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { err(ea.collect()) }
      assert(colErr == rowErr,
        s"ANSI transform-chain element_at must throw identically: col=$colErr row=$rowErr")
      assert(colErr.contains("SparkArithmeticException") || colErr.toLowerCase.contains("divide"),
        s"expected a divide-by-zero error, got $colErr")
    }
  }

  test("keys-only agg with pruned/aliased result expressions swaps with a key mapping") {
    import org.apache.spark.sql.functions._
    // r15: Spark merges a downstream projection into a re-dedup above an
    // already-distinct stage — resultExpressions prune/alias the
    // grouping keys (`.distinct().select(a, c AS x)`, the q47/q92/q116
    // dedup-pipeline shape). The kernel groups on the FULL key tuple
    // and emits only the mapped columns.
    val dir = java.nio.file.Files.createTempDirectory("graft-keyout").toString
    Seq((1L, 10, 100L), (1L, 10, 100L), (1L, 20, 200L), (2L, 10, 100L),
      (2L, 10, 300L), (1L, 20, 200L))
      .toDF("a", "b", "c").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    // the simple `.distinct().select(...)` folds into the FINAL swap's
    // outMap (assert that stays true); the keyOut path serves the
    // RE-DEDUP Spark leaves above an AQE-reused distinct stage — the
    // capped dedup pipeline (q92) is the real producer of that shape
    // since r16 restructured q47's candidate path (re-verified with the
    // KeyOutProbe tool; the node was tagged "partial output is not keys
    // ++ plain buffer attributes" through r14)
    val simple = t.distinct().select($"a", $"c".as("x"))
    checkInvariantUnder(simple.orderBy($"a", $"x"),
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
    val q92 = Catalog.validated.find(_.name == "q92_dedup_jaccard_capped").get
      .run(spark, GraftTestBase.sfDriverDir)
    q92.collect()
    assert(findExec(q92) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec
          if e.keyOut.nonEmpty => e
    }.isDefined, s"expected q92's re-dedup to swap with a key mapping in:\n${
      q92.queryExecution.executedPlan.toString.take(8000)}")
    // the all-pruned zero-column shape (count over distinct) must stay
    // correct (it falls back — indistinguishable from the natural-layout
    // sentinel)
    val cnt = t.distinct().count()
    assert(cnt == 4, s"distinct count, got $cnt")
  }

  test("long-lane bitwise/shift/unix/ceil-floor kernels match the row path") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-bitw").toString
    Seq(
      (1, Option(0x0F0FL), Option(5), Option(2.5), Option("2021-03-04 05:06:07.123456")),
      (2, Option(-1L), Option(33), Option(-2.5), Option("1969-12-31 23:59:59.999999")),
      (3, Option.empty[Long], Option(64), Option(Double.NaN), Option("2001-01-01 00:00:00")),
      (4, Option(Long.MinValue), Option.empty[Int], Option(1.0e300), Option("1970-01-01 00:00:00")))
      .toDF("id", "l", "s", "d", "tss")
      .withColumn("ts", org.apache.spark.sql.functions.col("tss").cast("timestamp"))
      .drop("tss").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    val df = t.select($"id",
      ($"l".bitwiseAND(lit(0xFFL))).as("band"),
      ($"l".bitwiseOR($"s".cast("long"))).as("bor"),
      ($"l".bitwiseXOR(lit(-1L))).as("bxor"),
      shiftleft($"l", 3).as("shl"),
      shiftright($"l", 7).as("shr"),
      shiftrightunsigned($"l", 7).as("shru"),
      // INT-typed shifts: count 33 masks to 1, wraps in 32 bits
      shiftleft($"s", 33).as("ishl"),
      bitwise_not($"l").as("bnot"),
      unix_micros($"ts").as("umic"),
      unix_millis($"ts").as("umil"),
      unix_seconds($"ts").as("usec"),
      ceil($"d").as("ce"),
      floor($"d").as("fl"))
    assert(findExec(df) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"expected the bitwise/unix/ceil lanes to swap in:\n${
      df.queryExecution.executedPlan}")
    val rows = df.orderBy($"id").collect()
    assert(rows(0).getLong(1) == (0x0F0FL & 0xFFL))
    assert(rows(1).getInt(7) == (33 << 33), "int shift must mask the count by 31")
    assert(rows(1).getLong(10) == -1L && rows(1).getLong(11) == -1L,
      "pre-epoch floorDiv for unix_millis/unix_seconds")
    assert(rows(1).getLong(12) == -2L && rows(1).getLong(13) == -3L,
      "ceil(-2.5) = -2, floor(-2.5) = -3")
    assert(rows(2).isNullAt(1), "null input propagates")
    checkInvariantUnder(df,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("regr_slope/intercept final merge and multi-arg count match the row path") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-regr").toString
    Seq(
      (1, Option(1.0), Option(2.0)), (1, Option(2.0), Option(4.5)),
      (1, Option(3.0), Option(5.5)), (1, Option.empty[Double], Option(9.0)),
      (1, Option(4.0), Option.empty[Double]),
      (2, Option(5.0), Option(1.0)), (2, Option(5.0), Option(2.0)), // constant x: m2=0 -> NULL
      (3, Option(7.0), Option(3.0)),                                // single pair: m2=0 -> NULL
      (4, Option.empty[Double], Option.empty[Double]))              // no pairs -> NULL
      .toDF("g", "x", "y").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    val df = t.groupBy($"g").agg(
      regr_slope($"y", $"x").as("sl"),
      regr_intercept($"y", $"x").as("ic"),
      count_if($"x".isNotNull && $"y".isNotNull).as("n_pairs2"),
      expr("count(x, y)").as("n_pairs"))
    df.collect()
    assert(findExec(df) {
      case e: org.apache.spark.sql.execution.graft.GraftColumnarFinalAggExec => e
    }.isDefined, s"expected the regr finals columnar in:\n${
      df.queryExecution.executedPlan}")
    val rows = df.orderBy($"g").collect()
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2), "constant x must be NULL (m2=0)")
    assert(rows(2).isNullAt(1), "single pair must be NULL")
    assert(rows(3).isNullAt(1), "no complete pairs must be NULL")
    assert(rows(0).getLong(4) == 3L, "count(x, y) counts complete pairs")
    checkInvariantUnder(df.orderBy($"g"),
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("string/hash kernel batch: initcap/translate/regexp/chr/hash/null-safe-eq edges") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-strk").toString
    Seq(
      (1, Option("hello wOrld-FOO"), Option(97L), Option(1.5)),
      (2, Option(""), Option(0L), Option(Double.NaN)),
      (3, Option.empty[String], Option(-5L), Option.empty[Double]),
      (4, Option("aAbBcC aeiou"), Option(256L + 65L), Option(Double.NaN)),
      (5, Option("x1y22z333"), Option(10L), Option(1.5)))
      .toDF("id", "s", "l", "d").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    val df = t.select($"id",
      initcap($"s").as("ic"),
      translate($"s", "aeiou", "AE").as("tr"), // deletions: to shorter than from
      regexp_replace($"s", "(\\d+)", "[$1]").as("rre"), // group ref in replacement
      expr("chr(l)").as("ch"),                 // 97='a', 0=NUL, -5='', 321 -> low byte
      sha1($"s").as("h1"),
      sha2($"s", 256).as("h2"),
      hex($"l").as("hx"),
      bin($"l").as("bn"),
      expr("instr(s, 'o')").as("ins"),
      ascii($"s").as("asc"),
      crc32($"s").as("crc"),
      bit_length($"s").as("bl"),
      hash($"s", $"l").as("mm3"),
      xxhash64($"s", $"l").as("xx"),
      ($"d" <=> lit(Double.NaN)).as("nseq"),   // NaN <=> NaN is TRUE
      ($"s" <=> lit("")).as("nses"))
    assert(findExec(df) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"expected the string/hash kernel project to swap in:\n${
      df.queryExecution.executedPlan}")
    val rows = df.orderBy($"id").collect()
    assert(rows(0).getString(1) == "Hello World-foo", s"initcap: ${rows(0).getString(1)}")
    assert(rows(3).getString(2) == "AAbBcC AE", s"translate deletions: ${rows(3).getString(2)}")
    assert(rows(4).getString(3) == "x[1]y[22]z[333]", s"regexp group ref: ${rows(4).getString(3)}")
    assert(rows(0).getString(4) == "a" && rows(2).getString(4) == "")
    assert(rows(1).getBoolean(16), "NaN <=> NaN must be TRUE")
    assert(rows(2).isNullAt(1), "null input propagates")
    checkInvariantUnder(df,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("boolean projection lane: predicate columns match the row path's Kleene semantics") {
    import org.apache.spark.sql.functions._
    // r15: BooleanType projection results ride the filter's predicate
    // kernels (total, throw-free by construction) as materialized
    // boolean vectors — the flag/quality-gate projection shape
    // (census: q31/q129/q139/q153).
    val dir = java.nio.file.Files.createTempDirectory("graft-boolproj").toString
    Seq(
      (1, Option("web-alpha"), Option(1.5), Option(10L), Option(true)),
      (2, Option.empty[String], Option(0.5), Option(20L), Option(false)),
      (3, Option("beta"), Option.empty[Double], Option.empty[Long], Option.empty[Boolean]),
      (4, Option("web-x"), Option(Double.NaN), Option(30L), Option(true)),
      (5, Option("gamma"), Option(-0.0), Option(40L), Option.empty[Boolean]))
      .toDF("id", "s", "d", "l", "b").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    val df = t.select($"id",
      ($"d" > 1.0).as("gt"),                          // double cmp incl. NaN ordering
      ($"s".startsWith("web") && $"l" < 35L).as("conj"), // Kleene AND with nulls
      ($"b" || $"d" <= 0.0).as("disj"),               // Kleene OR over bool col
      $"l".isin(10L, 40L).as("inset"),
      ($"s".isNull || !$"b").as("neg"),
      (($"l" % 7L) > 2L).as("computed"))              // computed long compare
    assert(findExec(df) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"expected the boolean lane project to swap in:\n${
      df.queryExecution.executedPlan}")
    val rows = df.orderBy($"id").collect()
    assert(rows(0).getBoolean(1) && rows(0).getBoolean(2))    // 1.5>1, web+10<35
    assert(rows(2).isNullAt(1), "null double must surface NULL not false")
    assert(rows(3).getBoolean(1), "NaN > 1.0 under Spark's double ordering")
    assert(rows(1).isNullAt(2), "null AND true = NULL (Kleene)")
    assert(rows(4).isNullAt(5),
      "false || (NOT null) must be NULL (Kleene) — s non-null, b null")
    checkInvariantUnder(df,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("math kernels: edge inputs (asymptotes, NaN, ±Inf, ±0.0) match the row path bitwise") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-mathd").toString
    Seq(-2.0, -1.0, -0.5, 0.0, -0.0, 0.5, 1.0, 2.0, 100.0, 1.0e308,
      Double.MaxValue, -Double.MaxValue,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .map(Option(_)).appended(Option.empty[Double]).zipWithIndex
      .map { case (d, i) => (i, d) }
      .toDF("id", "x").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    val funcs = Seq(
      sqrt($"x"), cbrt($"x"), exp($"x"), expm1($"x"),
      log($"x"), log10($"x"), log1p($"x"), log2($"x"), log(3.0, $"x"),
      sin($"x"), cos($"x"), tan($"x"), cot($"x"),
      asin($"x"), acos($"x"), atan($"x"),
      sinh($"x"), cosh($"x"), tanh($"x"),
      asinh($"x"), acosh($"x"), atanh($"x"),
      degrees($"x"), radians($"x"),
      pow($"x", lit(2.5)), atan2($"x", lit(3.0)), hypot($"x", lit(4.0)),
      round($"x", 2), bround($"x", 2))
      .zipWithIndex.map { case (c, i) => c.as(s"f$i") }
    val df = t.select(($"id" +: funcs): _*)
    assert(findExec(df) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"expected the math project to swap in:\n${df.queryExecution.executedPlan}")
    checkInvariantUnder(df,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("long-lane ANSI arithmetic: overflow raises the row path's exact error") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-arithl").toString
    Seq((1L, 2L), (Long.MaxValue, 3L)).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    def err(body: => Unit): String = {
      val e = intercept[Exception] { body }
      val root = Option(e.getCause).getOrElse(e)
      s"${root.getClass.getName}:${Option(root.getMessage).getOrElse("").take(80)}"
    }
    val q = t.select(($"a" * $"b").as("p"))
    val columnarErr = err(q.collect())
    assert(findExec(q) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"expected the arithmetic project to swap in:\n${q.queryExecution.executedPlan}")
    val rowErr = withSQLConf(
      org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { err(q.collect()) }
    assert(columnarErr == rowErr,
      s"overflow error must match the row path: columnar=$columnarErr row=$rowErr")
    // non-overflowing values agree with the row path on both widths
    val ok = t.filter($"a" < 100L).select(
      ($"a" * $"b").as("m"), ($"a" + $"b").as("s"),
      ($"a".cast("int") * $"b".cast("int")).as("mi"))
    checkInvariantUnder(ok,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("temporal kernels: field extraction/arith match the row path incl. pre-epoch and leap days") {
    import org.apache.spark.sql.functions._
    import java.sql.{Date, Timestamp}
    val dir = java.nio.file.Files.createTempDirectory("graft-temporal").toString
    Seq(
      (1, Option(Date.valueOf("1969-12-31")), Option(Timestamp.valueOf("1969-12-31 23:59:59"))),
      (2, Option(Date.valueOf("1970-01-01")), Option(Timestamp.valueOf("1970-01-01 00:00:00"))),
      (3, Option(Date.valueOf("2000-02-29")), Option(Timestamp.valueOf("2000-02-29 12:30:45"))),
      (4, Option(Date.valueOf("2024-12-31")), Option(Timestamp.valueOf("2024-12-31 23:00:01"))),
      (5, Option(Date.valueOf("1582-10-15")), Option(Timestamp.valueOf("1582-10-15 01:02:03"))),
      (6, Option.empty[Date], Option.empty[Timestamp]))
      .toDF("id", "d", "ts").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    val df = t.select($"id",
      year($"d"), month($"d"), dayofmonth($"d"), dayofweek($"d"), weekday($"d"),
      dayofyear($"d"), weekofyear($"d"), quarter($"d"), last_day($"d"),
      date_add($"d", 37), date_sub($"d", 400), datediff($"d", lit(Date.valueOf("2000-01-01"))),
      unix_date($"d"),
      hour($"ts"), minute($"ts"), second($"ts"), unix_timestamp($"ts"))
    assert(findExec(df) {
      case e: org.apache.spark.sql.graft.GraftColumnarProjectExec => e
    }.isDefined, s"expected the temporal project to swap in:\n${df.queryExecution.executedPlan}")
    checkInvariantUnder(df,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
  }

  test("double grouping keys: NaN canonicalization + -0.0/0.0 collapse match row semantics") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-dblkey").toString
    // a NON-canonical NaN bit pattern: Spark's NormalizeNaNAndZero maps
    // every NaN to the canonical quiet NaN before grouping — the kernel's
    // bits-normalizing getter must agree, or this row forms a spurious
    // second NaN group
    val oddNaN = java.lang.Double.longBitsToDouble(0x7ff0000000000001L)
    Seq(
      ("a", Option(0.0)), ("a", Option(-0.0)), ("a", Option(Double.NaN)),
      ("a", Option(oddNaN)), ("a", Option(1.5)), ("a", Option.empty[Double]),
      ("b", Option(-0.0)), ("b", Option(oddNaN)), ("b", Option(2.5)),
      ("b", Option(2.5)))
      .toDF("k", "d").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)

    // dedup shape: group BY the double column itself
    val g = t.groupBy($"k", $"d").agg(count(lit(1)).as("n"))
    g.collect() // finalize the adaptive plan before inspecting it
    assert(findExec(g) {
      case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec => e
    }.isDefined, s"expected the double-keyed partial to swap in:\n${g.queryExecution.executedPlan}")
    // -0.0 joins 0.0; both NaNs join; null is its own group: a -> 4 groups
    val aGroups = g.filter($"k" === "a").collect()
    assert(aGroups.length == 4, s"expected 4 groups for k=a, got ${aGroups.toSeq}")
    assert(aGroups.count(r => !r.isNullAt(1) && r.getDouble(1).isNaN && r.getLong(2) == 2L) == 1,
      s"expected ONE NaN group of size 2 in ${aGroups.toSeq}")
    assert(aGroups.count(r => !r.isNullAt(1) && r.getDouble(1) == 0.0 && r.getLong(2) == 2L) == 1,
      s"expected ONE zero group of size 2 in ${aGroups.toSeq}")
    checkInvariantUnder(g,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))

    // full value-distinct chain over the double argument
    val sd = t.filter(!isnan($"d")).groupBy($"k")
      .agg(sum_distinct($"d").as("s"), count_distinct($"d").as("c"))
    checkInvariantUnder(sd,
      Seq(org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false"))
    val row = sd.filter($"k" === "b").collect()(0)
    assert(row.getDouble(1) == 2.5 && row.getLong(2) == 2L, // {-0.0, 2.5}
      s"distinct over b must be {0.0, 2.5}: $row")
  }

  test("connectedComponents requires maxIter >= 1; one round labels one hop") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("d1", "d2")
    val e = intercept[IllegalArgumentException](
      graft.queries.GraphQueries.connectedComponents(path, maxIter = 0))
    assert(e.getMessage.contains("maxIter >= 1"), e.getMessage)
    def labels(maxIter: Int): Map[Long, Long] =
      graft.queries.GraphQueries.connectedComponents(path, maxIter).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the folded first round: each node takes the min of itself and its
    // neighbours
    assert(labels(1) == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    assert(labels(20) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }
}
