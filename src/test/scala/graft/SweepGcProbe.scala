package graft

/** r16 scratch probe: the Bench loop with builder-time extra confs, to
  * test the checkpoint-block-accumulation hypothesis (ContextCleaner's
  * periodic GC defaults to 30 min — longer than a sweep — so storage
  * blocks from every completed query's localCheckpoint pile up).
  * Test scope; never ships in the bench classpath.
  *
  * Usage: Test/runMain graft.SweepGcProbe <k=v,k2=v2> [outPath]
  */
object SweepGcProbe {
  def main(args: Array[String]): Unit = {
    val extra = args.headOption.getOrElse("")
    val out = if (args.length > 1) args(1) else "/tmp/sweep_probe.json"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(cpus.toInt, GraftSession.parseConf(extra))
    spark.sparkContext.setLogLevel("WARN")
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val names = SparkEntry.queries.keys.toSeq.sorted
    val timings = collection.mutable.LinkedHashMap[String, Double]()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable => None }
      }
      if (times.nonEmpty) timings(name) = times.min
    }
    val qs = timings.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      s"""{"value":${timings.values.sum},"queries":$qs}\n""")
    println(f"[probe] total=${timings.values.sum}%.1f extra=$extra")
    spark.stop()
  }
}
