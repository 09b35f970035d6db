package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named inventory queries to files —
  * the per-round plan evidence (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  *
  * Writes `<outDir>/<name>_<suffix>.txt` per query. The session is built
  * exactly like [[Bench]]'s (same master/partitions/extensions) so the
  * captured plan is the one the bench actually runs. Plans are captured
  * AFTER execution (noop sink) so AQE's final plan — join strategy
  * rewrites, coalesced reads — is what lands in the file, not the
  * pre-execution estimate.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(sfDir, outDir, suffix, qcsv) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // sortedOnce's checkpoint would cut each plan down to
    // Sort-over-LogicalRDD; SPARK_GRAFT_CONF below can turn it back on
    spark.conf.set(Tables.sortedOnceEnabledKey, "false")
    // Same A/B hook as Bench: extra session confs ("k=v,k2=v2") so
    // gated shapes can be captured for before/after evidence without
    // code edits.
    GraftSession.applyEnvConf(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = qcsv.split(",").map(_.trim).filter(_.nonEmpty)
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
