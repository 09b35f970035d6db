package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** r16 scratch profiler: run one inventory query N times and print every
  * Spark JOB with its duration and description — the measurement behind
  * the iterative-trio job-latency work (guide §1.2: find where the time
  * goes before touching anything). Test scope on purpose (the r15 ADVICE
  * on MicroBench): never ships in the bench classpath.
  *
  * Usage: Test/runMain graft.JobProfile <query> [runs]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q157_ann_pq")
    val runs = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val jobs = collection.concurrent.TrieMap[Int, (Long, String, Int)]()
    val done = collection.mutable.ArrayBuffer[(Int, Double, String, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(js.jobId) = (js.time, desc, js.stageInfos.size)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.remove(je.jobId).foreach { case (t0, desc, nst) =>
          done.synchronized { done += ((je.jobId, (je.time - t0) / 1e3, desc, nst)) }
        }
    })

    val fn = SparkEntry.queries(name)
    // warmup
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    (1 to runs).foreach { r =>
      done.synchronized(done.clear())
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      val snap = done.synchronized(done.toVector.sortBy(_._1))
      println(f"[jobprofile] $name run $r wall=$wall%.3f s jobs=${snap.size} jobsum=${snap.map(_._2).sum}%.2f s")
      snap.foreach { case (id, d, desc, nst) =>
        println(f"[jobprofile]   job $id%4d ${d}%7.3f s stages=$nst%-3d ${desc.take(90)}")
      }
    }
    spark.stop()
  }
}
