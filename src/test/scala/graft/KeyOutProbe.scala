package graft

/** r16 scratch: which inventory queries still execute a key-mapped
  * keys-only aggregate (GraftColumnarGroupedAggExec.keyOut non-empty)?
  * Test scope.
  */
object KeyOutProbe {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args(0).split(",").toSeq
      else Seq("q47_dedup_minhash_lsh", "q92_dedup_jaccard_capped",
        "q116_decontamination", "q156_winnowing_dedup", "q46_dedup_ngram_jaccard",
        "q74_llm_prep_pipeline", "q108_dedup_clusters", "q115_corpus_span_dedup")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession(8)
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val extra = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
          case _ => Nil
        }
        (p +: (p.children ++ p.subqueries).flatMap(walk)) ++ extra
      }
      val hits = walk(df.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.graft.GraftColumnarGroupedAggExec if e.keyOut.nonEmpty => e
      }
      println(s"[keyout] $n -> ${hits.size}")
    }
    spark.stop()
  }
}
