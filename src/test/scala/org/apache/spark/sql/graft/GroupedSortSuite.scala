package org.apache.spark.sql.graft

import graft.{Catalog, GraftTestBase, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.graft.{GraftColumnarWindowExec, GraftGroupedSortExec}

/** The grouped in-partition sort under windows, and the row count it
  * hands the size-based window face, under forced spill: every grouped
  * sort spills every few rows (SortExec's testSpillFrequency hook) and
  * Spark's window buffers, which now hold only peer groups and groups
  * of unknown size, spill past 64 rows (DualRunSuite's memory-pressure
  * thresholds). Results must equal Spark's row path (columnar off,
  * where the plain SortExec runs).
  */
class GroupedSortSuite extends GraftTestBase {
  import GraftTestBase.spark.implicits._

  private val windowBufferSpill = Seq(
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "16",
    "spark.sql.windowExec.buffer.spill.threshold" -> "64")

  /** Rows of the query's static plan (AQE off, so the whole pipeline is
    * one executable plan), with `edit` applied to the plan first, and the
    * task spill bytes. */
  private def rowsOf(query: => DataFrame, edit: SparkPlan => SparkPlan,
      confs: (String, String)*): (Seq[String], SparkPlan, Long) =
    withSQLConf(("spark.sql.adaptive.enabled" -> "false") +: confs: _*) {
      val df = query
      val plan = edit(df.queryExecution.executedPlan)
      val spilled = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => spilled.addAndGet(m.memoryBytesSpilled))
      }
      spark.sparkContext.addSparkListener(listener)
      val rows = try plan.executeCollect().map(_.toSeq(df.schema).mkString("|")).toSeq.sorted
      finally {
        spark.sparkContext.listenerBus.waitUntilEmpty()
        spark.sparkContext.removeSparkListener(listener)
      }
      (rows, plan, spilled.get)
    }

  private def rowPath(query: => DataFrame): Seq[String] =
    rowsOf(query, identity, GraftColumnarRule.enabledKey -> "false")._1

  private def streamedGroups(plan: SparkPlan): Long =
    plan.collect { case w: GraftColumnarWindowExec => w.metrics("numStreamedGroups").value }.sum

  Seq("q185_window_rolling_wide", "q186_window_range_wide", "q187_window_sizebased",
      "q188_window_mixed_kinds", "q189_window_suffix", "q156_winnowing_dedup").foreach { name =>
    test(s"$name: grouped sort and size handoff match the row path under forced spill") {
      def query = Catalog.validated.find(_.name == name).get.run(spark, sfDir)
      val (spilled, plan, _) = rowsOf(query,
        _.transform { case g: GraftGroupedSortExec => g.copy(testSpillFrequency = 97) },
        windowBufferSpill: _*)
      assert(spilled == rowPath(query), s"$name changed under forced spill")
      val sorts = plan.collect { case g: GraftGroupedSortExec => g }
      assert(sorts.nonEmpty, s"expected a grouped sort in:\n$plan")
      assert(sorts.map(_.metrics("spillSize").value).sum > 0,
        s"the grouped sorts of $name did not spill")
      if (name == "q187_window_sizebased" || name == "q188_window_mixed_kinds")
        assert(streamedGroups(plan) > 0, s"no size-based group of $name streamed:\n$plan")
    }
  }

  test("streamed cume_dist groups spill their peer-group look-ahead and match the row path") {
    // ~1,500-row peer groups (two line statuses per return flag) pass
    // the 64-row spill threshold, so the only buffer left, the current
    // peer group, spills
    def query = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy($"l_returnflag").orderBy($"l_linestatus")
      Tables.t(spark, sfDir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_linestatus",
          cume_dist().over(w).as("cd"), count(lit(1)).over(w).as("n"),
          sum($"l_quantity").over(w).as("qty"))
    }
    val (rows, plan, spillBytes) = rowsOf(query, identity, windowBufferSpill: _*)
    assert(rows == rowPath(query))
    val groups = plan.collect { case w: GraftColumnarWindowExec =>
      w.metrics("numPartitionGroups").value }.sum
    assert(groups > 0 && streamedGroups(plan) == groups,
      s"every window partition must stream from the sort:\n$plan")
    assert(spillBytes > 0, "the peer-group look-ahead did not spill")
  }
}
