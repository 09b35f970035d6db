package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

/** Dump `.explain("formatted")` for named inventory queries to files —
  * the per-round plan evidence (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  *
  * Writes `<outDir>/<name>_<suffix>.txt` per query. The session is built
  * exactly like [[Bench]]'s (same master/partitions/extensions) so the
  * captured plan is the one the bench actually runs. Plans are captured
  * after executing the DataFrame's own QueryExecution (see
  * [[executedPlanString]]), so AQE's final plan — join strategy
  * rewrites, coalesced reads, the graft nodes inside each stage — is what
  * lands in the file, not the pre-execution estimate.
  */
object PlanDump {
  /** Execute `df`'s own QueryExecution (rows are discarded on the
    * executors) and return its formatted final plan. A write of `df`
    * would run a sibling QueryExecution and leave this one un-final
    * (`isFinalPlan=false`, no graft node). */
  def executedPlanString(df: DataFrame): String = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("plandump")) {
      qe.executedPlan.execute().foreach(_ => ())
    }
    qe.explainString(ExplainMode.fromString("formatted"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(sfDir, outDir, suffix, qcsv) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Same A/B hook as Bench: extra session confs ("k=v,k2=v2") so
    // gated shapes can be captured for before/after evidence without
    // code edits.
    GraftSession.applyEnvConf(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = qcsv.split(",").map(_.trim).filter(_.nonEmpty)
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query: $name"))
      val txt = executedPlanString(fn(spark, sfDir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
