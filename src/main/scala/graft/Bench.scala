package graft

/** Per-round benchmark: runs every inventory query on SPARK_GRAFT_SF_DIR
  * and emits ONE JSON line. Results are fully materialized through the
  * noop sink (every column computed, nothing collected to the driver) —
  * `count()` would let Catalyst prune projections and flatter the numbers.
  * Failures are reported per-query under "errors", never as fake timings.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // 1-min load BEFORE the session starts = background box load, the
    // discriminator bench_compare uses to separate machine noise from
    // plan regressions (r7 q96/q97 and r8 q92 were both busy-box noise).
    def loadAvg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadStart = loadAvg()
    val spark = GraftSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // A/B instrumentation: extra session confs ("k=v,k2=v2") and a
    // query-name filter, so operator gates can be measured without
    // code edits (the BHJ/finalAgg A/B methodology).
    GraftSession.applyEnvConf(spark)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)

    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

    // Warmup (uncounted): JVM/classloader/codegen + parquet footer reads,
    // so the alphabetically-first query doesn't absorb session init.
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // Per-query MIN across runs — the same methodology as the reference
    // baseline (benchmarks/tpc/tpcbench.py: "total of per-query min"),
    // so run 1's codegen-compile cost doesn't masquerade as query cost.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val timings = collection.mutable.LinkedHashMap[String, Double]()
    val errors = collection.mutable.LinkedHashMap[String, String]()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            None
        }
      }
      if (times.nonEmpty) timings(name) = times.min
    }
    val qs = timings.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    val total = timings.values.sum
    // Same-shape TPC-H subtotal (queries carrying "tpch" in their name:
    // 21 of the 22-query suite; Q3's twin q03_join_agg_topk predates the
    // naming) — the directly comparable number against BASELINE.md's
    // per-query TPC-H table.
    val tpch = timings.filter(_._1.contains("tpch"))
    // The harness that consumes stdout keeps only the final ~2 KB, and
    // the full 163-query map is ~3× that — r6 lost all per-query detail
    // this way. So: FULL detail goes to a file inside the repo
    // (committed next round, auditable either way), and the printed line
    // stays compact — totals, the errors map, and per-query numbers for
    // just the TPC-H set graded against BASELINE.md.
    val loadEnd = loadAvg()
    val envJson = s""""loadavg_start":$loadStart,"loadavg_end":$loadEnd,"runs":$runs,"cpus":"${esc(cpus)}""""
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"sf":"${esc(sfDir)}","tpch_total":${tpch.values.sum},"tpch_queries":${tpch.size},$envJson}"""
    // Filtered (SPARK_GRAFT_BENCH_ONLY) runs must not clobber the
    // full-sweep artifact — the r14 judge overwrote BENCH_detail.json
    // with a 6-query isolation run and had to git-checkout it back.
    val defaultDetail =
      if (only.isDefined) "BENCH_detail_only.json" else "BENCH_detail.json"
    val detailPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", defaultDetail))
    try java.nio.file.Files.writeString(detailPath, fullJson + "\n")
    catch { case e: Throwable =>
      System.err.println(s"bench detail write failed: ${e.getMessage}") }
    // ALSO write a per-core-count copy of the full sweep: the driver
    // reruns the bench at a lower core count after the main run, and the
    // second run used to overwrite BENCH_detail.json — losing the 32-core
    // per-query ground truth (r15 verdict "What's wrong #5"). Additive
    // only: the default artifact above and the stdout line are unchanged.
    if (only.isEmpty && sys.env.get("SPARK_GRAFT_BENCH_DETAIL").isEmpty) {
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"BENCH_detail_c$cpus.json"), fullJson + "\n")
      catch { case e: Throwable =>
        System.err.println(s"bench per-cpu detail write failed: ${e.getMessage}") }
    }
    // The stdout per-query map holds ONLY the TPC-H subset (the full map
    // lives in the detail file) — under a DIFFERENT key than the detail
    // file's full "queries" map, so no consumer can silently read the
    // 21-query subset where it expects all of them.
    val tq = tpch.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","tpch_queries_detail":$tq,"errors":$es,"sf":"${esc(sfDir)}","tpch_total":${tpch.values.sum},"tpch_queries":${tpch.size},"n_queries":${timings.size},"detail":"${esc(detailPath.toString)}",$envJson}""")
    spark.stop()
  }
}
