package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark client. Runs in its own JVM, started by run.py with a config
  * file of `key=value` lines (mode, data, cores, seconds, trace,
  * timeout_s, one `conf=` line per session conf and one `query=` line per
  * query in pass order). It calls `QueryDef.run` from `Catalog.validated`,
  * writes every result to the noop sink, one query at a time, and prints
  * one JSON object per line, each prefixed with `@pb `, for run.py to
  * reduce. Modes:
  *   - setup:  start a session, do the warmup read, report the time;
  *   - run:    setup, one cold pass, warm passes for `seconds`, then the
  *             untimed result gate (digests of every query);
  *   - expect: digests of every query on Spark's row path, plus the
  *             results as parquet for the DuckDB oracle check.
  */
object Harness {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanoTime resolution (listener events carry
    * currentTimeMillis stamps, so spans share their clock). */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def emit(kind: String, fields: (String, Any)*): Unit = {
    val body = (("kind" -> kind) +: fields).map { case (k, v) =>
      val js = v match {
        case s: String => "\"" + esc(s) + "\""
        case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
        case b: Boolean => b.toString
        case n: Number => n.toString
        case m: collection.Map[_, _] => m.map { case (a, b) => s""""${esc(a.toString)}":$b""" }.mkString("{", ",", "}")
        case other => "\"" + esc(String.valueOf(other)) + "\""
      }
      s""""$k":$js"""
    }.mkString("{", ",", "}")
    println("@pb " + body)
    System.out.flush()
  }

  final case class Config(kv: Seq[(String, String)]) {
    def get(k: String): String = kv.find(_._1 == k).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"missing config key $k"))
    def all(k: String): Seq[String] = kv.filter(_._1 == k).map(_._2)
  }

  def readConfig(path: String): Config = Config(
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) })

  def session(cfg: Config): SparkSession = {
    val cores = cfg.get("cores")
    var b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config(graft.Tables.eventsReadConf._1, graft.Tables.eventsReadConf._2)
      .config("spark.ui.enabled", "false")
    cfg.all("conf").foreach { kv =>
      val i = kv.indexOf('=')
      b = b.config(kv.take(i), kv.drop(i + 1))
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Session plus the warmup read, timed from JVM start. */
  def setup(cfg: Config): SparkSession = {
    val spark = session(cfg)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    spark.read.parquet(s"${cfg.get("data")}/nation.parquet")
      .write.format("noop").mode("overwrite").save()
    emit("setup", "setup_s" -> (System.currentTimeMillis() - jvmStartMs) / 1000.0,
      "session_s" -> sessionS,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    spark
  }

  def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).filter(_ >= 0).sum, beans.map(_.getCollectionTime).filter(_ >= 0).sum)
  }

  def storage(spark: SparkSession): (Double, Int) = {
    val sc = spark.sparkContext
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    (used / 1048576.0, sc.getRDDStorageInfo.map(_.numCachedPartitions).sum)
  }

  /** Heap after a forced collection, and the block-manager storage in use
    * (held in that heap). A collection lets Spark's ContextCleaner drop the
    * blocks of unreachable RDDs asynchronously, so wait until storage stops
    * shrinking and collect again before reading. */
  def liveMb(spark: SparkSession): (Double, Double) = {
    System.gc()
    var last = storage(spark)._1
    var stable = 0
    val deadline = System.currentTimeMillis() + 3000
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val now = storage(spark)._1
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
    System.gc()
    (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0, last)
  }

  def main(args: Array[String]): Unit = {
    val cfg = readConfig(args(0))
    cfg.get("mode") match {
      case "setup" =>
        setup(cfg).stop()
      case "run" => new Run(cfg).apply()
      case "expect" => new Run(cfg).expect(cfg.get("out"))
    }
    System.out.flush()
  }
}

/** One run: a fresh session, its passes and its gate. */
final class Run(cfg: Harness.Config) {
  import Harness._

  private val data = cfg.get("data")
  private val timeoutMs = (cfg.get("timeout_s").toDouble * 1000).toLong
  private val catalog = graft.Catalog.validated.map(q => q.name -> q).toMap
  private val order = cfg.all("query")
  order.foreach(n => require(catalog.contains(n), s"unknown query $n"))
  private val worker = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
  }
  // Set once a query outlived its time limit and its jobs would not cancel:
  // the rest of the run is not attempted and every query left counts failed.
  private var hung = false

  final case class Result(ok: Boolean, err: String, t0: Double, t1: Double, t2: Double,
      compiles: Long, compileNs: Long, gcCount: Long, gcMs: Long)

  /** Runs `body` on the client thread under the job group `group`, within
    * the per-query time limit. */
  private def limited[T](spark: SparkSession, group: String)(body: => T): Either[String, T] = {
    if (hung) return Left("not reached: an earlier query hung")
    val sc = spark.sparkContext
    val fut = worker.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }
    })
    try Right(fut.get(timeoutMs, TimeUnit.MILLISECONDS))
    catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        fut.cancel(true)
        val deadline = System.currentTimeMillis() + 10000
        while (!fut.isDone && System.currentTimeMillis() < deadline) Thread.sleep(50)
        if (!fut.isDone) hung = true
        Left(s"timeout after ${timeoutMs / 1000.0} s")
      case e: java.util.concurrent.ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        if (c.isInstanceOf[OutOfMemoryError]) hung = true
        Left(s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("")}".take(300))
    }
  }

  private def runQuery(spark: SparkSession, name: String, group: String): Result = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n0 = CodeGenerator.compileTime
    val (g0, gt0) = gcTotals()
    val t0 = nowMs()
    val r = limited(spark, group) {
      val df = catalog(name).run(spark, data)
      val t1 = nowMs()
      df.write.format("noop").mode("overwrite").save()
      t1
    }
    val t2 = nowMs()
    val (g1, gt1) = gcTotals()
    Result(r.isRight, r.left.getOrElse(""), t0, r.getOrElse(t2), t2,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, CodeGenerator.compileTime - n0,
      g1 - g0, gt1 - gt0)
  }

  def apply(): Unit = {
    val spark = setup(cfg)
    val traceMode = cfg.get("trace") == "1"
    val seconds = cfg.get("seconds").toDouble
    val heap0 = liveMb(spark)._1
    val tracer = if (traceMode) Some(new Tracer) else None
    def attach(on: Boolean): Unit = tracer.foreach { t =>
      if (on) { spark.sparkContext.addSparkListener(t); spark.listenerManager.register(t) }
      else { spark.sparkContext.removeSparkListener(t); spark.listenerManager.unregister(t) }
    }
    val traced = mutable.ArrayBuffer[(Int, Seq[(String, Result)], Double)]()

    def pass(k: Int, withTrace: Boolean): Unit = {
      attach(withTrace)
      val p0 = nowMs()
      val rs = order.map(n => n -> runQuery(spark, n, s"p$k:$n"))
      val wall = (nowMs() - p0) / 1000.0
      attach(false)
      val (st, blocks) = storage(spark)
      rs.foreach { case (n, r) =>
        emit("query", "pass" -> k, "traced" -> withTrace, "name" -> n, "ok" -> r.ok,
          "lat_s" -> (r.t2 - r.t0) / 1000.0, "err" -> r.err)
      }
      emit("pass", "pass" -> k, "traced" -> withTrace, "wall_s" -> wall,
        "storage_mb" -> st, "rdd_blocks" -> blocks)
      if (withTrace) traced += ((k, rs, wall))
    }

    // Cold pass (traced in the traced run, so first-time costs show per
    // layer), then warm passes until the measuring window closes. In the
    // traced run warm passes alternate untraced/traced; the warm passes
    // still speed up as the JIT compiles, so each traced pass is compared
    // with the mean of its two untraced neighbours.
    pass(0, traceMode)
    val w0 = nowMs()
    var k = 1
    while (!hung && (k <= 2 || (nowMs() - w0) / 1000.0 < seconds)) {
      pass(k, traceMode && k % 2 == 0)
      k += 1
    }
    // End on an untraced pass, so every traced warm pass has an untraced
    // pass on each side to compare with.
    if (traceMode && k % 2 == 1 && !hung) { pass(k, false); k += 1 }
    tracer.foreach { t =>
      t.drain(10000)
      t.resolve()
      traced.foreach { case (p, rs, wall) => reportLayers(t, p, rs, wall) }
    }

    // Untimed gate: every query's result digest. It runs in name order, so
    // the query whose objects are still reachable when the run ends, and so
    // the memory measured below, does not depend on the seed.
    order.distinct.sorted.foreach { n =>
      val d = limited(spark, s"gate:$n")(Digest.of(catalog(n).run(spark, data)))
      emit("gate", "name" -> n, "ok" -> d.isRight, "digest" -> d.getOrElse(""),
        "err" -> d.left.getOrElse(""))
    }
    val (heap1, store1) = liveMb(spark)
    val (gcN, gcMs) = gcTotals()
    emit("end", "heap_mb" -> heap1, "storage_mb" -> store1, "retained_delta_mb" -> (heap1 - heap0),
      "gc_count" -> gcN, "gc_s" -> gcMs / 1000.0, "hung" -> hung)
    if (hung) Runtime.getRuntime.halt(3)
    spark.stop()
  }

  /** Listener events and planning phases carry currentTimeMillis stamps. */
  private val ClockSlackMs = 1.0

  /** Per-layer sums over one traced pass, and the span containment check. */
  private def reportLayers(t: Tracer, p: Int, rs: Seq[(String, Result)], wall: Double): Unit = {
    val sum = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    val cores = cfg.get("cores").toDouble
    var outsideMs = 0.0
    var outsideSpans = 0
    rs.foreach { case (n, r) =>
      val g = s"p$p:$n"
      val c = Option(t.counters.get(g)).map(_.c).getOrElse(mutable.Map.empty[String, Double])
      c.foreach { case (key, v) =>
        if (key == "peak_exec_mem_bytes") sum(key) = math.max(sum(key), v) else sum(key) += v
      }
      val jobs = Option(t.jobSpans.get(g)).map(_.asScala.toSeq).getOrElse(Nil)
      val phases = Option(t.phaseSpans.get(g)).map(_.asScala.toSeq).getOrElse(Nil)
      val (q0, b1, q2) = (r.t0, r.t1, r.t2)
      // A job or planning phase that starts before QueryDef.run returns is
      // a child of build, the rest are children of action.
      val (buildJobs, actionJobs) = jobs.partition(_._1.start < b1 - ClockSlackMs)
      val (buildPhases, actionPhases) = phases.partition(_.start < b1 - ClockSlackMs)
      val build = b1 - q0
      val plan = Tracer.unionMs(actionPhases, b1, q2)
      val planAndJobs = Tracer.unionMs(actionPhases ++ actionJobs.map(_._1), b1, q2)
      val jobsOnly = planAndJobs - plan
      val gap = (q2 - b1) - planAndJobs
      // The sums above clip every child to its parent, so they add up to
      // the wall time by construction. What the clipping drops is checked
      // here on the unclipped spans: the time each child spends outside
      // its parent, beyond the millisecond resolution of listener clocks.
      def outside(s: Span, lo: Double, hi: Double): Double =
        math.max(0.0, lo - s.start - ClockSlackMs) + math.max(0.0, s.end - hi - ClockSlackMs)
      val escapes = (buildJobs.map(_._1) ++ buildPhases).map(outside(_, q0, b1)) ++
        (actionJobs.map(_._1) ++ actionPhases).map(outside(_, b1, q2)) ++
        jobs.flatMap { case (js, ss) => ss.map(outside(_, js.start, js.end)) }
      outsideMs += escapes.sum
      outsideSpans += escapes.count(_ > 0)
      val buildJobMs = Tracer.unionMs(buildJobs.map(_._1), q0, b1)
      val jobMs = jobs.map(_._1.dur).sum
      val stageCover = jobs.map { case (js, ss) => Tracer.unionMs(ss, js.start, js.end) }.sum
      sum("wall_ms") += q2 - q0
      sum("build_ms") += build
      sum("build_self_ms") += build - buildJobMs
      sum("build_jobs") += buildJobs.size
      sum("action_ms") += q2 - b1
      sum("plan_ms") += plan
      sum("action_jobs_ms") += jobsOnly
      sum("driver_gap_ms") += gap
      sum("job_ms") += jobMs
      sum("job_self_ms") += jobMs - stageCover
      sum("codegen_compiles") += r.compiles
      sum("codegen_compile_ms") += r.compileNs / 1e6
      sum("gc_count") += r.gcCount
      sum("gc_ms") += r.gcMs
      actionPhases.groupBy(_.name).foreach { case (ph, ss) => sum(ph + "_ms") += Tracer.unionMs(ss, b1, q2) }
    }
    sum("pass_wall_ms") = wall * 1000
    sum("core_util") = sum("task_run_ms") / (wall * 1000 * cores)
    sum("span_outside_ms") = outsideMs
    sum("spans_outside") = outsideSpans
    emit("layers", "pass" -> p, "values" -> sum.map { case (k, v) => k -> v.toString })
  }

  /** Row-path digests (columnar execution off) and parquet copies of the
    * results, for the DuckDB oracle check. */
  def expect(out: String): Unit = {
    val spark = session(cfg)
    spark.conf.set("spark.graft.columnar.enabled", "false")
    val oracles = graft.SparkEntry.oracleSql
    order.distinct.foreach { n =>
      val d = limited(spark, s"expect:$n") {
        val df = catalog(n).run(spark, data)
        if (oracles.contains(n) && cfg.get("oracle") == "1") {
          df.repartition(1).write.mode("overwrite").parquet(s"file://$out/$n")
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/$n.sql"), oracles(n))
        }
        Digest.of(df)
      }
      emit("expect", "name" -> n, "ok" -> d.isRight, "digest" -> d.getOrElse(""),
        "err" -> d.left.getOrElse(""))
    }
    spark.stop()
  }
}
