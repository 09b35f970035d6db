// In the org.apache.spark.sql namespace alongside the columnar operators —
// same placement the reference uses for its rule (org.apache.spark.sql.comet).
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.execution.graft.GraftGroupedSortExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plugin rule: before Spark inserts row/columnar transitions, swap
  * supported operators over a columnar child (the parquet scan) for
  * their columnar twins. Injected by GraftExtensions via
  * injectColumnar — the same hook the reference uses to swap its
  * native operators in.
  *
  * The rule owns the passes; each operator family owns its swap as a
  * partial function over one node (reference pattern: CometExecRule's
  * per-operator serde handlers): [[GraftSelectSwaps]] (project, filter,
  * expand), [[GraftJoinSwaps]], [[GraftSortSwaps]] (sort, top-k, window
  * group limit), [[GraftAggSwaps]] and [[GraftWindowSwaps]].
  *
  * Per-node gating with fallback reasons (reference pattern:
  * CometExecRule.scala:258-393 + `withInfo`,
  * CometSparkSessionExtensions.scala:283-295): a candidate that is NOT
  * swapped gets a TreeNodeTag explaining why, surfaced to anyone asking
  * "why didn't my query use the columnar path".
  */
case class GraftColumnarRule(session: SparkSession) extends ColumnarRule {
  import GraftColumnarRule._

  /** One node's swap. No two families match the same node, so their
    * order is free; the window family retries a computed-key node
    * through this composed function. */
  private lazy val swapOne: PartialFunction[SparkPlan, SparkPlan] =
    GraftSelectSwaps(session) orElse GraftJoinSwaps(session) orElse
      GraftSortSwaps(session) orElse GraftAggSwaps(session) orElse
      GraftWindowSwaps(session, p => swapOne.applyOrElse(p, identity[SparkPlan]))

  override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    override val ruleName: String = "graft.Columnar"
    override def apply(plan: SparkPlan): SparkPlan = if (!flag(session, enabledKey)) plan else {
      // pass 1 — mixed-kind window SPLIT (see GraftWindowSwaps.splitMixedWindow):
      // chains of homogeneous WindowExecs the swap pass below can take
      var didSplit = false
      val pre = if (!flag(session, windowAggEnabledKey)) plan else plan.transformUp {
        case w: WindowExec if w.getTagValue(splitWindowTag).isEmpty =>
          GraftWindowSwaps.splitMixedWindow(w) match {
            case Some(p) => didSplit = true; p
            case None => w
          }
      }
      // pass 2 — the per-node columnar swap
      val swapped = pre.transformUp(swapOne)
      // pass 3 — merge-back: two ADJACENT split products BOTH left on
      // the row WindowExec re-fuse into one node (one partition buffer
      // instead of two; never worse than the unsplit original)
      val merged = if (!didSplit) swapped else swapped.transformUp {
        case w1: WindowExec
            if w1.getTagValue(splitWindowTag).isDefined &&
              w1.child.isInstanceOf[WindowExec] &&
              w1.child.getTagValue(splitWindowTag).isDefined =>
          val w2 = w1.child.asInstanceOf[WindowExec]
          val m = WindowExec(
            w2.windowExpression ++ w1.windowExpression,
            w1.partitionSpec, w1.orderSpec, w2.child)
          m.setTagValue(splitWindowTag, ())
          w1.getTagValue(fallbackReasonTag).orElse(w2.getTagValue(fallbackReasonTag))
            .foreach(r => m.setTagValue(fallbackReasonTag, r))
          m
      }
      // pass 4 — the sort under each window-family node groups by its
      // partition key (GraftGroupedSortExec)
      GraftGroupedSortExec.swapUnderWindows(merged)
    }
  }
}

object GraftColumnarRule {
  /** Reason a candidate node stayed on the row path (the reference's
    * ExtendedExplainInfo surface). */
  val fallbackReasonTag: TreeNodeTag[String] = TreeNodeTag[String]("graft.columnar.fallback")

  /** Marks the WindowExec nodes the mixed-kind splitter created (and
    * their merge-backs) so the post-pass only re-fuses its own
    * products, never user-visible plan shapes. */
  val splitWindowTag: TreeNodeTag[Unit] = TreeNodeTag[Unit]("graft.window.split")

  /** Marks a WindowExec produced by the computed-partition-key
    * canonicalization retry — prevents the canonicalization case from
    * ever reconsidering its own product. */
  val computedPKeyTag: TreeNodeTag[Unit] = TreeNodeTag[Unit]("graft.window.computedPKey")

  /** A boolean `spark.graft.*` gate, read per plan so it can be toggled
    * mid-session. */
  def flag(session: SparkSession, key: String, default: Boolean = true): Boolean =
    session.conf.getOption(key).map(_.toBoolean).getOrElse(default)

  /** Position of attribute `e` in `plan`'s output; -1 when `e` is not an
    * attribute of it. */
  def ordinal(plan: SparkPlan, e: Expression): Int = e match {
    case a: Attribute => plan.output.indexWhere(_.exprId == a.exprId)
    case _ => -1
  }

  /** Tags `node` with the reason it stays on the row path. */
  def declined[T <: SparkPlan](node: T, reason: String): T = {
    node.setTagValue(fallbackReasonTag, reason)
    node
  }

  /** Every value, or the first reason one of them failed. */
  def allRight[A](xs: Seq[Either[String, A]]): Either[String, Seq[A]] =
    xs.collectFirst { case Left(r) => Left(r) }
      .getOrElse(Right(xs.collect { case Right(a) => a }))

  /** Kill switch, mirroring the reference's per-operator enable flags
    * (spark.comet.exec.*.enabled): set false to keep every candidate on
    * the row path.
    */
  val enabledKey = "spark.graft.columnar.enabled"

  /** Columnar window aggregation over running ROWS frames — default ON
    * (streaming accumulators over the sorted rows replace the row
    * WindowExec's whole-group buffering; A/B in
    * GraftColumnarWindowExec's scaladoc). */
  val windowAggEnabledKey = "spark.graft.columnar.window.enabled"

  /** Grouped FINAL-mode columnar aggregation — default ON (A/B showed
    * parity: the final stage merges #groups × #map-partitions buffer
    * rows, far off the scan's hot path; set false to keep the row
    * final HashAggregate).
    */
  val finalAggEnabledKey = "spark.graft.columnar.finalAgg.enabled"

  /** Columnar SEMI/ANTI broadcast-join probe — unlike an inner probe
    * (a measured loss; inner and existence broadcast joins stay on
    * Spark's BHJ), the semi/anti probe has no build-side
    * materialization AND reduces rows at the probe; its A/B won, so it
    * defaults ON (see README).
    */
  val semiBhjEnabledKey = "spark.graft.columnar.semibhj.enabled"

  /** Columnar partial WindowGroupLimit — default ON (A/B at sf0.1:
    * 0.18x-0.96x across group cardinalities, see the exec's scaladoc):
    * the probe replaces a full map-side sort with bounded per-group
    * heaps (set false to keep Sort + the row WindowGroupLimit).
    * `maxGroups` bounds live heap memory; overflow drains candidates and
    * passes the rest through zero-copy (always correct under the
    * exchange the rule requires).
    */
  val wglEnabledKey = "spark.graft.columnar.wgl.enabled"
  val wglMaxGroupsKey = "spark.graft.columnar.wgl.maxGroups"
  val wglDefaultMaxGroups = 65536

  /** Columnar SEMI/ANTI shuffled hash join — fires only when the stream
    * side is pre-partitioned (bucketed layout, no exchange below it), so
    * the probe reads scan batches in place; see
    * GraftColumnarShuffledSemiJoinExec's scaladoc for the measured A/B
    * behind the default.
    */
  val shjEnabledKey = "spark.graft.columnar.shj.enabled"

  /** Columnar INNER shuffled hash join — default ON after a winning A/B
    * (median ~0.84x across ten session runs, 0.74-0.93x typical; see
    * GraftColumnarShuffledInnerJoinExec's scaladoc). Unlike a
    * broadcast inner probe (measured 1.65x LOSS), the co-located-stream
    * SHJ's row twin is not a fused scan pipeline — it already pays
    * ColumnarToRow on every stream row plus the same per-task relation
    * build — so the zero-copy stream gathers win here.
    */
  val innerShjEnabledKey = "spark.graft.columnar.shj.inner.enabled"

  /** NARROW sorts (at most 4 output columns, each long/double family or
    * Decimal64) over a columnar block swap to GraftColumnarSortExec by
    * DEFAULT: with so little to buffer, the radix path beats Tungsten's
    * row sort (FilterMicroBench sf0.1, A/B medians across 1-4 column
    * shapes; numbers in the exec's scaladoc). Wider or string outputs
    * keep the row sort, where the same kernel measured slower. The win
    * case is the common sorted-export / pre-bucketing projection.
    */
  val narrowSortEnabledKey = "spark.graft.columnar.sort.narrow.enabled"

  /** Columnar top-k — default ON: the A/B (FilterMicroBench, sf0.1)
    * measured the bounded-heap probe ~2x FASTER than the row
    * TakeOrderedAndProject over a columnar child (ratios 0.45-0.58 for
    * k=10/1000/filtered): a losing row costs one vector read instead of
    * a full ColumnarToRow materialization. Set false to keep the row
    * operator.
    */
  val topkEnabledKey = "spark.graft.columnar.topk.enabled"

  /** Columnar Expand — default ON (A/B at parity-or-better: the swap
    * replaces P projections × R rows of per-row copying with P × C
    * zero-copy column references, and keeps the Expand → partial
    * grouped agg pipeline on ColumnarBatch end to end).
    */
  val expandEnabledKey = "spark.graft.columnar.expand.enabled"
}
