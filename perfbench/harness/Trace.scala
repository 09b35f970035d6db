package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.GraftColumnarRule
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query counters of one traced query instance (one job group). */
final class QueryCounters {
  val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = synchronized { c(k) += v }
  def max(k: String, v: Double): Unit = synchronized { c(k) = math.max(c(k), v) }
}

/** A closed span in epoch milliseconds. */
final case class Span(name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** The traced run's only instrumentation: one SparkListener (jobs,
  * stages, tasks, SQL executions and their adaptive re-plans) and one
  * QueryExecutionListener (planning-phase times and the executed plan).
  * Everything is keyed by the job group the client sets per query
  * instance, so events that the asynchronous listener bus delivers late
  * still land on the right query. Spans and counters stay in memory
  * until the run reads them at the end.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  val counters = new ConcurrentHashMap[String, QueryCounters]()
  val jobSpans = new ConcurrentHashMap[String, java.util.List[(Span, Seq[Span])]]()
  val phaseSpans = new ConcurrentHashMap[String, java.util.List[Span]]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSpans = new ConcurrentHashMap[Int, Span]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  // SQL metric accumulator id -> (node name, metric name), from plan infos.
  private val metricOwner = new ConcurrentHashMap[Long, (String, String)]()
  private val metricExec = new ConcurrentHashMap[Long, Long]()
  private val finalPlan = new ConcurrentHashMap[Long, SparkPlanInfo]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()
  @volatile var openJobs = 0
  @volatile var openExecs = 0

  def of(group: String): QueryCounters = counters.computeIfAbsent(group, _ => new QueryCounters)

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      synchronized { openJobs += 1 }
      jobGroup.put(e.jobId, group)
      jobStart.put(e.jobId, e.time)
      jobStages.put(e.jobId, e.stageIds)
      e.stageIds.foreach(stageGroup.put(_, group))
      of(group).add("jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    Option(jobGroup.get(e.jobId)).foreach { group =>
      synchronized { openJobs -= 1 }
      val js = Span("job", jobStart.get(e.jobId).toDouble, e.time.toDouble)
      val ss = jobStages.get(e.jobId).flatMap(id => Option(stageSpans.get(id)))
      jobSpans.computeIfAbsent(group, _ => java.util.Collections.synchronizedList(new java.util.ArrayList()))
        .add(js -> ss)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val si = e.stageInfo
    Option(stageGroup.get(si.stageId)).foreach { group =>
      val q = of(group)
      q.add("stages", 1)
      for (s <- si.submissionTime; c <- si.completionTime)
        stageSpans.put(si.stageId, Span("stage", s.toDouble, c.toDouble))
      si.accumulables.values.foreach { a =>
        val v = a.value match {
          case Some(l: Long) => l.toDouble
          case Some(i: Int) => i.toDouble
          case _ => 0.0
        }
        Option(metricOwner.get(a.id)).foreach { case (node, metric) =>
          if (metric == "number of output rows") {
            q.add("rows_out", v)
            if (node.startsWith("Graft")) q.add("graft_rows_out", v)
          }
          if (node.startsWith("Graft") && metric == "spilled bytes") q.add("graft_spill_bytes", v)
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    Option(stageGroup.get(e.stageId)).foreach { group =>
      val q = of(group)
      val m = e.taskMetrics
      val info = e.taskInfo
      q.add("tasks", 1)
      if (m != null) {
        val run = m.executorRunTime.toDouble
        val deser = m.executorDeserializeTime.toDouble
        q.add("task_run_ms", run)
        q.add("task_cpu_ns", m.executorCpuTime.toDouble)
        q.add("task_deser_ms", deser)
        q.add("sched_delay_ms", math.max(0.0,
          info.duration - run - deser - m.resultSerializationTime - info.gettingResultTime))
        q.add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
        q.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        q.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        q.add("shuffle_write_ns", m.shuffleWriteMetrics.writeTime.toDouble)
        q.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        q.add("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        q.add("spill_mem_bytes", m.memoryBytesSpilled.toDouble)
        q.add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
        q.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      }
    }
  }

  private def registerPlan(execId: Long, info: SparkPlanInfo): Unit = {
    def walk(n: SparkPlanInfo): Unit = {
      n.metrics.foreach { m =>
        metricOwner.put(m.accumulatorId, n.nodeName -> m.name)
        metricExec.put(m.accumulatorId, execId)
      }
      n.children.foreach(walk)
    }
    walk(info)
    finalPlan.put(execId, info)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      touch()
      s.jobGroupId.foreach { g =>
        synchronized { openExecs += 1 }
        execGroup.put(s.executionId, g)
        registerPlan(s.executionId, s.sparkPlanInfo)
      }
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      touch()
      Option(execGroup.get(u.executionId)).foreach { g =>
        of(g).add("aqe_replans", 1)
        registerPlan(u.executionId, u.sparkPlanInfo)
      }
    case end: SparkListenerSQLExecutionEnd =>
      touch()
      Option(execGroup.get(end.executionId)).foreach { g =>
        synchronized { openExecs -= 1 }
        Option(finalPlan.remove(end.executionId)).foreach { info =>
          val names = Iterator.iterate(Seq(info))(_.flatMap(_.children))
            .takeWhile(_.nonEmpty).flatten.map(_.nodeName).toSeq
            .filterNot(n => n.startsWith("AdaptiveSparkPlan") || n.contains("QueryStage"))
          of(g).add("plan_nodes", names.size)
          of(g).add("graft_nodes", names.count(_.startsWith("Graft")))
        }
      }
    case _ =>
  }

  /** What onSuccess saw of one execution: its SQL metric ids (to find the
    * execution, and so the query, it belongs to), planning phases, fallback
    * count and the replayed columnar-rule time. */
  private final case class Done(metricIds: Seq[Long], phases: Seq[Span], fallbacks: Int,
      ruleMs: Double)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = {
    touch()
    val ids = Seq.newBuilder[Long]
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => ids ++= other.metrics.values.map(_.id); other.children.foreach(walk)
    }
    walk(qe.executedPlan)
    val phases = qe.tracker.phases.toSeq.map { case (phase, p) =>
      Span(s"plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    // The columnar rule's own cost, replayed on the execution's physical plan.
    val rule = GraftColumnarRule(qe.sparkSession)
    val t0 = System.nanoTime()
    rule.postColumnarTransitions(rule.preColumnarTransitions(qe.sparkPlan))
    done.add(Done(ids.result(), phases, Tracer.fallbackReasons(qe.executedPlan).size,
      (System.nanoTime() - t0) / 1e6))
  }

  /** Attribute every finished execution to its query, once all events are in. */
  def resolve(): Unit = {
    var d = done.poll()
    while (d != null) {
      d.metricIds.iterator.map(id => Option(metricExec.get(id))).collectFirst { case Some(e) => e }
        .flatMap(e => Option(execGroup.get(e))).foreach { g =>
          phaseSpans.computeIfAbsent(g, _ => java.util.Collections.synchronizedList(new java.util.ArrayList()))
            .addAll(d.phases.asJava)
          of(g).add("fallback_nodes", d.fallbacks)
          of(g).add("columnar_rule_ms", d.ruleMs)
        }
      d = done.poll()
    }
  }

  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = touch()

  /** Wait until every traced job and SQL execution has ended and the bus
    * has been quiet for a moment, so late events are counted. */
  def drain(maxMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline &&
      (openJobs > 0 || openExecs > 0 || System.currentTimeMillis() - lastEventMs < 300))
      Thread.sleep(20)
  }
}

object Tracer {
  /** (node, reason) for every node the columnar rule declined to swap in
    * the plan that ran — the tag GraftExplain.fallbackReasons reads,
    * walked over the executed action plan rather than a re-planned one. */
  def fallbackReasons(plan: SparkPlan): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        other.getTagValue(GraftColumnarRule.fallbackReasonTag).foreach(r => out += other.nodeName -> r)
        other.children.foreach(walk)
    }
    walk(plan)
    out.result()
  }

  /** Total length of the union of `spans`, each clipped to [lo, hi]. */
  def unionMs(spans: Seq[Span], lo: Double, hi: Double): Double = {
    val clipped = spans.map(s => (math.max(s.start, lo), math.min(s.end, hi)))
      .filter(p => p._2 > p._1).sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
