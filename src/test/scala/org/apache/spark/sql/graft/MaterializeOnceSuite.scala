package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.{Catalog, GraftTestBase}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.graft.GraftMaterializeOnceExec
import org.apache.spark.sql.functions.udf
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The range exchange's child is computed once, lazily, and its blocks
  * are released when the SQL execution that stored them ends. */
class MaterializeOnceSuite extends GraftTestBase {
  import GraftTestBase.spark.implicits._

  private def sc = spark.sparkContext
  private def query(name: String) = Catalog.validated.find(_.name == name).get

  /** Run `body` with `listener` on the bus, draining the bus before it is
    * removed so that every event of `body` has reached it. */
  private def listening[T](listener: SparkListener)(body: => T): T = {
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      out
    } finally sc.removeSparkListener(listener)
  }

  test("building a presentation-sorted query starts no Spark job") {
    Seq("q02_filter_project", "q142_pii_redact", "q187_window_sizebased").foreach { name =>
      // a table's first build infers its parquet schema, which may run a
      // job; Tables.t memoizes the DataFrame, so a second build only plans
      query(name).run(spark, sfDir)
      val jobs = new AtomicInteger
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      val df = listening(counter)(query(name).run(spark, sfDir))
      assert(jobs.get == 0, s"building $name started ${jobs.get} job(s)")
      listening(counter)(df.collect())
      assert(jobs.get > 0, s"the listener saw no job of $name's action")
    }
  }

  test("a map-only global sort computes its body once") {
    val n = 20000
    val acc = sc.longAccumulator("materializeOnceBodyRows")
    val tagged = udf { (x: Long) => acc.add(1); x }.asNondeterministic()
    def sorted = spark.range(0, n, 1, 4)
      .select(tagged($"id").as("v"), ($"id" % 97).as("k"))
      .orderBy($"k", $"v")

    assert(sorted.collect().length == n)
    assert(acc.value == n, s"the body ran ${acc.value} times for $n rows under AQE")

    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = sorted.queryExecution.executedPlan
      assert(plan.collect { case m: GraftMaterializeOnceExec => m }.size == 1,
        s"expected one GraftMaterializeOnce in:\n$plan")
      acc.reset()
      assert(plan.executeCollect().length == n)
      assert(acc.value == n, s"the body ran ${acc.value} times for $n rows")
      // without the node RangePartitioner's sampling job computes the
      // body a second time: the count above is what the node saves
      acc.reset()
      plan.transform { case m: GraftMaterializeOnceExec => m.child }.executeCollect()
      assert(acc.value >= 2L * n, s"the unstored body ran ${acc.value} times for $n rows")
    }
  }

  test("the stored blocks are released when the action's SQL execution ends") {
    val stored = ConcurrentHashMap.newKeySet[Int]()
    val cachedAtJobEnd = new AtomicInteger
    val watcher = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        e.stageInfo.rddInfos.foreach { i =>
          if (i.name == "GraftMaterializeOnce" && i.storageLevel.isValid) stored.add(i.id)
        }
      // job events precede the execution's end on the bus, so this sees
      // the blocks before they are released
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        cachedAtJobEnd.accumulateAndGet(
          sc.getRDDStorageInfo.filter(i => stored.contains(i.id)).map(_.numCachedPartitions).sum,
          math.max)
    }
    val df = query("q02_filter_project").run(spark, sfDir)
    listening(watcher)(df.collect())
    assert(!stored.isEmpty, "no GraftMaterializeOnce RDD was stored")
    assert(cachedAtJobEnd.get > 0, "the stored RDD held no block while the query ran")
    eventually(timeout(10.seconds), interval(50.millis)) {
      val left = sc.getRDDStorageInfo.filter(i => stored.contains(i.id))
      assert(left.isEmpty, s"blocks left after the execution ended: ${left.mkString(", ")}")
    }
  }

  test("collecting the same DataFrame twice returns identical rows") {
    Seq("q189_window_suffix", "q142_pii_redact").foreach { name =>
      val df = query(name).run(spark, sfDir)
      val first = df.collect().toSeq
      assert(first.nonEmpty, s"$name returned no row")
      assert(df.collect().toSeq == first, s"$name changed between two collects")
    }
  }
}
