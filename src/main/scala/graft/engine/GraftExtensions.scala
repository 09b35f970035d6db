package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.{CosineSimilarity, PiiDetect, PiiPatterns, PiiRedact}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Engine plugin (SURVEY §7.1 "custom work": the extension/plugin
  * skeleton mirroring the reference's CometSparkSessionExtensions.scala:
  * 89-100 — ours injects functions and a plan-audit rule instead of
  * swapping execution).
  *
  * Activate with:
  *   .config("spark.sql.extensions", "graft.engine.GraftExtensions")
  *
  * Registers:
  *  - `cosine_sim(array<float>, array<float>)` — native codegen
  *    expression ([[CosineSimilarity]]) usable from SQL and expr().
  *  - `bloom_filter_agg(xxhash64(col)[, items, bits])` and
  *    `might_contain(bloom, xxhash64(col))` — Spark's internal
  *    BloomFilterAggregate/BloomFilterMightContain (the runtime-filter
  *    machinery), exposed as SQL functions the way the reference
  *    exposes its bloom aggregate (serde/aggregates.scala:629-686).
  *    This is the pre-shuffle probe filter a 100 TB join pipeline uses.
  *  - [[PlanAuditRule]] — a columnar rule that tags coverage counters
  *    (the moral equivalent of the reference's fallback tagging).
  *  - `GraftMaterializeOnceRule` — stores the child of a range exchange
  *    once, so RangePartitioner's sampling job and the map stage do not
  *    both compute it. Injected after PlanAuditRule, so its
  *    post-transition pass runs first and the audit sees the node.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functionDescriptors.foreach(ext.injectFunction)
    ext.injectColumnar(session => org.apache.spark.sql.graft.GraftColumnarRule(session))
    ext.injectColumnar(session => PlanAuditRule(session))
    ext.injectColumnar(_ => org.apache.spark.sql.execution.graft.GraftMaterializeOnceRule)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.GraftTopKStrategy)
  }
}

object GraftExtensions {
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** (name, info, builder) triple for FunctionRegistry injection. */
  val cosineSimDescriptor: Descriptor = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "cosine_sim takes exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })

  /** Spark's internal bloom aggregate. Defaults match
    * spark.sql.optimizer.runtime.bloomFilter.{expectedNumItems,numBits}.
    * The analyzer wraps the returned AggregateFunction itself.
    */
  val bloomAggDescriptor: Descriptor = (
    FunctionIdentifier("bloom_filter_agg"),
    new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_filter_agg"),
    (children: Seq[Expression]) => children match {
      case Seq(c)       => new BloomFilterAggregate(c, Literal(1000000L), Literal(8388608L))
      case Seq(c, n)    => new BloomFilterAggregate(c, n, Literal(8388608L))
      case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
      case _ => throw new IllegalArgumentException("bloom_filter_agg takes 1-3 arguments")
    })

  /** Probe side; the bloom argument must be a literal/scalar subquery. */
  val mightContainDescriptor: Descriptor = (
    FunctionIdentifier("might_contain"),
    new ExpressionInfo(classOf[BloomFilterMightContain].getName, "might_contain"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "might_contain takes exactly 2 arguments")
      BloomFilterMightContain(children.head, children(1))
    })

  /** The optional class list must be a STRING LITERAL so unsupported
    * class names fail at analysis, not on an executor mid-scan.
    */
  private def piiClassArg(children: Seq[Expression], fn: String): Seq[String] =
    children match {
      case Seq(_) => PiiPatterns.parseClasses("")
      case Seq(_, Literal(csv: UTF8String, StringType)) =>
        PiiPatterns.parseClasses(csv.toString)
      case _ => throw new IllegalArgumentException(
        s"$fn takes (text[, 'cc,email,...' string literal])")
    }

  val piiDetectDescriptor: Descriptor = (
    FunctionIdentifier("pii_detect"),
    new ExpressionInfo(classOf[PiiDetect].getName, "pii_detect"),
    (children: Seq[Expression]) =>
      PiiDetect(children.head, piiClassArg(children, "pii_detect")))

  val piiRedactDescriptor: Descriptor = (
    FunctionIdentifier("pii_redact"),
    new ExpressionInfo(classOf[PiiRedact].getName, "pii_redact"),
    (children: Seq[Expression]) =>
      PiiRedact(children.head, piiClassArg(children, "pii_redact")))

  val functionDescriptors: Seq[Descriptor] =
    Seq(cosineSimDescriptor, bloomAggDescriptor, mightContainDescriptor,
      piiDetectDescriptor, piiRedactDescriptor)
}
