package graft

import graft.engine.GraftExplain
import org.apache.spark.sql.DataFrame

/** Diagnostic main: run every Catalog query at the given SF dir and
  * aggregate [[GraftExplain.fallbackReasons]] across the whole inventory —
  * "which row-path fallbacks fire, how often, and where" in one report.
  * The moral twin of the reference's ExtendedExplainInfo rollup
  * (spark/.../ExtendedExplainInfo.scala), used to pick the next columnar
  * kernel to build: reasons that appear across many queries are engine
  * gaps; reasons unique to one query are usually inherent to its shape.
  *
  * Usage: runMain graft.FallbackCensus /root/testdata/sf0.01 [out.json]
  * With a second argument, additionally writes the aggregated census as
  * JSON — committed per round as FALLBACK_census.json so each round's
  * kernel picks are driven by the measured fallback surface, not memory
  * (VERDICT r12 task #6).
  */
object FallbackCensus {
  /** Strips the labels that differ between two runs of the same plan:
    * expression ids (`window#10770`, `sum(_w0#514)`) and codegen stage
    * ids (`WholeStageCodegen (6)`). Without it two census runs of the
    * same code differ, and a diff between sweeps shows noise. */
  def normalize(label: String): String =
    label.replaceAll("#\\d+", "#N")
      .replaceAll("WholeStageCodegen \\(\\d+\\)", "WholeStageCodegen (N)")

  /** One executed DataFrame's census entries, normalized: its
    * (node, fallback reason) pairs and its columnar boundary consumers. */
  def entries(df: DataFrame): (Seq[(String, String)], Seq[String]) =
    (GraftExplain.fallbackReasons(df).map { case (n, r) => (normalize(n), normalize(r)) },
      GraftExplain.columnarBoundaries(df).map(normalize))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // reason -> (executions hit, distinct queries, example nodes)
    val agg = collection.mutable.Map.empty[String, (Long, Set[String], Set[String])]
    // "what sits directly above a ColumnarToRow" — where coverage ENDS:
    // consumer nodeName -> distinct queries. (The tagged reasons above
    // only cover nodes the rule CONSIDERED; this maps the row islands it
    // never looks at.)
    val boundary = collection.mutable.Map.empty[String, Set[String]]
    Catalog.validated
      .filter(q => only.forall(_.exists(q.name.startsWith)))
      .foreach { q =>
        try {
          val df = q.run(spark, sfDir)
          // collect() — NOT a noop-sink write — so THIS QueryExecution's
          // AdaptiveSparkPlan materializes to its final plan: the
          // columnar rules (and their tags, and the inserted
          // transitions) only exist inside materialized query stages. A
          // write would execute a sibling plan and leave df's own plan
          // un-final (isFinalPlan=false, zero graft nodes) — the census
          // would silently see nothing in every AQE query.
          df.collect()
          // SPARK_GRAFT_EXPLAIN=1: dump each executed plan (pairs with
          // SPARK_GRAFT_ONLY for single-query plan reads)
          if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
            println(s"=== ${q.name} executed plan ===\n" +
              df.queryExecution.executedPlan.toString)
          val (reasons, consumers) = entries(df)
          reasons.foreach { case (node, reason) =>
            val (n, qs, nodes) = agg.getOrElse(reason, (0L, Set.empty[String], Set.empty[String]))
            agg(reason) = (n + 1, qs + q.name, nodes + node)
          }
          consumers.foreach { consumer =>
            boundary(consumer) = boundary.getOrElse(consumer, Set.empty) + q.name
          }
        } catch {
          // NonFatal only: an OOM/fatal JVM error must propagate rather
          // than be swallowed into a misleading under-count of fallbacks.
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[census] ${q.name} failed: ${e.getMessage}")
        }
      }

    def fmt(qs: Set[String]): String = {
      val qlist = qs.toSeq.sorted
      if (qlist.size > 8) qlist.take(8).mkString(",") + s",…(${qlist.size})"
      else qlist.mkString(",")
    }
    // ties in the counts are broken by the text, so two runs of the same
    // code write the same file
    val byHits = agg.toSeq.sortBy { case (r, (n, _, _)) => (-n, r) }
    val byQueries = boundary.toSeq.sortBy { case (c, qs) => (-qs.size, c) }
    println("=== fallback census (reason | node-hits | queries) ===")
    byHits.foreach { case (reason, (n, qs, nodes)) =>
      println(f"$n%5d  [${nodes.toSeq.sorted.mkString("/")}] $reason%s  <- ${fmt(qs)}")
    }
    println("=== columnar boundary census (first row consumer | queries) ===")
    byQueries.foreach { case (consumer, qs) =>
      println(f"${qs.size}%5d  $consumer  <- ${fmt(qs)}")
    }
    outFile.foreach { path =>
      def js(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      def arr(ss: Iterable[String]): String =
        ss.toSeq.sorted.map(js).mkString("[", ",", "]")
      val reasons = byHits.map { case (r, (n, qs, nodes)) =>
        s"""{"reason":${js(r)},"hits":$n,"nodes":${arr(nodes)},"queries":${arr(qs)}}"""
      }.mkString("[", ",", "]")
      val bounds = byQueries.map { case (c, qs) =>
        s"""{"consumer":${js(c)},"queries":${arr(qs)}}"""
      }.mkString("[", ",", "]")
      val json = s"""{"sf":${js(sfDir)},"queries_run":${Catalog.validated.size},""" +
        s""""reasons":$reasons,"boundaries":$bounds}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
      println(s"[census] wrote $path")
    }
    spark.stop()
  }
}
