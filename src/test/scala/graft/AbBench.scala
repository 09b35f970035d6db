package graft

/** r16 interleaved same-JVM A/B: run one query N times alternating a
  * session conf between two values, print per-arm times and mins. The
  * only comparison this box's ±30% session drift can't fool (the r15
  * calibration note). Test scope; never ships in the bench classpath.
  *
  * Usage: Test/runMain graft.AbBench <query> <confKey> <valA> <valB> [n]
  */
object AbBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: AbBench <query> <confKey> <valA> <valB> [n]")
    val Array(name, key, va, vb) = args.take(4)
    val n = if (args.length > 4) args(4).toInt else 6
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    // warmup both arms once (codegen/classload)
    Seq(va, vb).foreach { v =>
      spark.conf.set(key, v)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    val ta = collection.mutable.ArrayBuffer[Double]()
    val tb = collection.mutable.ArrayBuffer[Double]()
    (1 to n).foreach { _ =>
      Seq((va, ta), (vb, tb)).foreach { case (v, buf) =>
        spark.conf.set(key, v)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        buf += (System.nanoTime() - t0) / 1e9
      }
    }
    def fmt(b: Seq[Double]) = b.map(t => f"$t%5.2f").mkString(",")
    println(f"[ab] $name $key=$va min=${ta.min}%6.3f runs=${fmt(ta.toSeq)}")
    println(f"[ab] $name $key=$vb min=${tb.min}%6.3f runs=${fmt(tb.toSeq)}")
    spark.stop()
  }
}
