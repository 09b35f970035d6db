// In the org.apache.spark.sql namespace alongside GraftTopK — same
// placement the reference uses for its operators (org.apache.spark.sql.comet).
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Columnar execution demonstrator (SURVEY §7.1's remaining custom-work
  * item; reference pattern: spark/sql/comet/operators.scala:386-776 —
  * operators that consume and produce ColumnarBatch and are swapped in
  * by a plugin rule).
  *
  * GraftColumnarSelectExec executes an attribute-only projection
  * (column prune / reorder) directly on the scan's ColumnarBatches:
  * zero copy — the output batch references the input batch's
  * ColumnVectors — and zero row materialization. Spark inserts the
  * ColumnarToRow transition above it automatically, exactly as it does
  * for the reference's native operators.
  */
case class GraftColumnarSelectExec(output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  // No constructor validation: AQE canonicalization copies this node with
  // normalized exprIds, where output/child correspondence is checked by
  // the rule that builds the real instance, not here.
  private lazy val indices: Array[Int] =
    output.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray

  override def supportsColumnar: Boolean = true
  override def outputPartitioning = child.outputPartitioning

  /** Per-operator SQLMetrics (reference pattern: CometMetricNode). */
  override lazy val metrics = Map(
    "numBatches" -> SQLMetrics.createMetric(sparkContext, "number of batches"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val idx = indices
    val (batchM, rowM) = (metrics("numBatches"), metrics("numOutputRows"))
    child.executeColumnar().map { batch =>
      val cols = new Array[ColumnVector](idx.length)
      var i = 0
      while (i < idx.length) { cols(i) = batch.column(idx(i)); i += 1 }
      batchM.add(1)
      rowM.add(batch.numRows())
      new ColumnarBatch(cols, batch.numRows())
    }
  }

  /** Row fallback — present for completeness; the planner routes through
    * the columnar path because supportsColumnar is true.
    */
  override protected def doExecute(): RDD[InternalRow] = {
    val out = output
    val in = child.output
    child.execute().mapPartitionsInternal { iter =>
      val proj = UnsafeProjection.create(out, in)
      iter.map(proj)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftColumnarSelectExec =
    copy(child = newChild)
}

/** Plugin rule: before Spark inserts row/columnar transitions, swap
  * supported operators over a columnar child (the parquet scan) for
  * their columnar twins. Injected by GraftExtensions via
  * injectColumnar — the same hook the reference uses to swap its
  * native operators in.
  *
  * Per-node gating with fallback reasons (reference pattern:
  * CometExecRule.scala:258-393 + `withInfo`,
  * CometSparkSessionExtensions.scala:283-295): a Filter/Project that is
  * NOT swapped gets a TreeNodeTag explaining why, surfaced to anyone
  * asking "why didn't my query use the columnar path".
  */
case class GraftColumnarRule(session: SparkSession) extends ColumnarRule {
  import GraftColumnarRule._

  override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    override val ruleName: String = "graft.Columnar"
    override def apply(plan: SparkPlan): SparkPlan = if (!enabled(session)) plan else {
      // pass 1 — mixed-kind window SPLIT (see splitMixedWindow): chains
      // of homogeneous WindowExecs the swap pass below can take
      var didSplit = false
      val pre = if (!windowAggEnabled(session)) plan else plan.transformUp {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.getTagValue(splitWindowTag).isEmpty =>
          splitMixedWindow(w) match {
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
        case w1: org.apache.spark.sql.execution.window.WindowExec
            if w1.getTagValue(splitWindowTag).isDefined &&
              w1.child.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec] &&
              w1.child.getTagValue(splitWindowTag).isDefined =>
          val w2 = w1.child.asInstanceOf[org.apache.spark.sql.execution.window.WindowExec]
          val m = org.apache.spark.sql.execution.window.WindowExec(
            w2.windowExpression ++ w1.windowExpression,
            w1.partitionSpec, w1.orderSpec, w2.child)
          m.setTagValue(splitWindowTag, ())
          w1.getTagValue(fallbackReasonTag).orElse(w2.getTagValue(fallbackReasonTag))
            .foreach(r => m.setTagValue(fallbackReasonTag, r))
          m
      }
      // pass 4 — the sort under each window-family node groups by its
      // partition key (GraftGroupedSortExec)
      org.apache.spark.sql.execution.graft.GraftGroupedSortExec.swapUnderWindows(merged)
    }

    private val swapOne: PartialFunction[SparkPlan, SparkPlan] = {
      case ProjectExec(projectList, child)
          if child.supportsColumnar &&
            projectList.forall(p => p.isInstanceOf[AttributeReference] &&
              child.output.exists(_.exprId == p.exprId)) =>
        GraftColumnarSelectExec(projectList.map(_.toAttribute), child)

      case p @ ProjectExec(projectList, child) if child.supportsColumnar =>
        // Computed projection: every item must be an attribute or a
        // compilable double-algebra / string / length kernel
        // (GraftColumnarProject).
        val reasons = projectList.flatMap {
          case a: AttributeReference if child.output.exists(_.exprId == a.exprId) => None
          case Alias(a: AttributeReference, _)
              if child.output.exists(_.exprId == a.exprId) => None
          case Alias(e, _) => ProjKernel.compile(e, child.output).left.toOption
          case other => Some(s"unsupported projection item: ${other.getClass.getSimpleName}")
        }
        if (reasons.isEmpty) GraftColumnarProjectExec(projectList, child)
        else { p.setTagValue(fallbackReasonTag, reasons.head); p }

      case f @ FilterExec(cond, child) if child.supportsColumnar =>
        VecPredicate.compile(cond, child.output) match {
          case Right(_) => GraftColumnarFilterExec(cond, child)
          case Left(reason) => f.setTagValue(fallbackReasonTag, reason); f
        }

      // Columnar LEFT SEMI / LEFT ANTI broadcast join: no build-side
      // output, so the probe is a pure existence filter over the stream
      // batch (zero-copy selection vectors, no match-buffer
      // materialization — the cost that made an inner probe lose its
      // A/B to Spark's codegen-fused BHJ, which inner joins keep). Key
      // gate: integral (LongHashedRelation) OR string
      // (UnsafeHashedRelation, the dedup anti-join shape); the
      // null-aware anti variant (isNullAwareAntiJoin=true) stays on
      // the row path.
      case j @ joins.BroadcastHashJoinExec(
          lks, _, jt, org.apache.spark.sql.catalyst.optimizer.BuildRight,
          None, left, right, false)
          if (jt == org.apache.spark.sql.catalyst.plans.LeftSemi ||
            jt == org.apache.spark.sql.catalyst.plans.LeftAnti) && semiBhjEnabled(session) =>
        // keys: all plain stream attributes, AND either one string key
        // (UnsafeHashedRelation) or an integral set Spark packs into one
        // long (canRewriteAsLongType — incl. composite (int, int) keys)
        val keyAttrs = lks.map {
          case a: AttributeReference if left.output.exists(_.exprId == a.exprId) => Some(a)
          case _ => None
        }
        val dts = lks.map(_.dataType)
        val keyShapeOk = keyAttrs.forall(_.isDefined) &&
          org.apache.spark.sql.execution.graft.GraftColumnarBHJExec.semiProbeKeyShapeOk(dts)
        (keyShapeOk, left.supportsColumnar) match {
          case (true, true)
              if j.output.forall(at => left.output.exists(_.exprId == at.exprId)) =>
            val attrs = keyAttrs.flatten
            org.apache.spark.sql.execution.graft.GraftColumnarSemiBHJExec(
              j.output,
              attrs.map(a => left.output.indexWhere(_.exprId == a.exprId)),
              attrs.map(_.dataType),
              j.output.map(at => left.output.indexWhere(_.exprId == at.exprId)),
              anti = jt == org.apache.spark.sql.catalyst.plans.LeftAnti,
              left, right)
          case (_, true) =>
            j.setTagValue(fallbackReasonTag,
              "semi/anti broadcast join not columnar-probeable (needs integral " +
                "attribute keys packing into 8 bytes, or a single string/date/" +
                "timestamp key)"); j
          case _ => j
        }

      // Columnar LEFT SEMI / LEFT ANTI SHUFFLED hash join — only when
      // the STREAM side reaches the join columnar (a bucketed/co-located
      // scan, no exchange below it): the probe consumes scan batches
      // directly and builds the same per-task HashedRelation the row
      // SHJ would from the shuffled build rows. Both-sides-shuffled
      // joins have a row-exchange stream child and never match.
      case j @ joins.ShuffledHashJoinExec(
          lks, rks, jt, org.apache.spark.sql.catalyst.optimizer.BuildRight,
          None, left, right, false)
          if (jt == org.apache.spark.sql.catalyst.plans.LeftSemi ||
            jt == org.apache.spark.sql.catalyst.plans.LeftAnti) && shjEnabled(session) =>
        val keyAttrsSH = lks.map {
          case a: AttributeReference if left.output.exists(_.exprId == a.exprId) => Some(a)
          case _ => None
        }
        val dtsSH = lks.map(_.dataType)
        val keyShapeOkSH = keyAttrsSH.forall(_.isDefined) &&
          org.apache.spark.sql.execution.graft.GraftColumnarBHJExec.semiProbeKeyShapeOk(dtsSH)
        (keyShapeOkSH, left.supportsColumnar) match {
          case (true, true)
              if j.output.forall(at => left.output.exists(_.exprId == at.exprId)) =>
            val attrs = keyAttrsSH.flatten
            org.apache.spark.sql.execution.graft.GraftColumnarShuffledSemiJoinExec(
              j.output,
              lks, rks,
              attrs.map(a => left.output.indexWhere(_.exprId == a.exprId)),
              attrs.map(_.dataType),
              j.output.map(at => left.output.indexWhere(_.exprId == at.exprId)),
              anti = jt == org.apache.spark.sql.catalyst.plans.LeftAnti,
              left, right)
          case (_, true) =>
            j.setTagValue(fallbackReasonTag,
              "shuffled semi/anti join not columnar-probeable (needs integral " +
                "attribute keys packing into 8 bytes, or a single string/date/" +
                "timestamp key)"); j
          case _ => j
        }

      // Columnar INNER / LEFT OUTER / RIGHT OUTER / FULL OUTER shuffled
      // hash join over the same co-located layout — default ON (winning
      // A/B: the row twin is not a fused scan pipeline here, so
      // zero-copy stream gathers beat its per-row ColumnarToRow; see
      // the exec's scaladoc). LEFT OUTER adds one null-build row per
      // miss; RIGHT/FULL OUTER add the row SHJ's build-outer mechanism
      // (matched-key BitSet + end-of-stream sweep, SPARK-36612).
      case j @ joins.ShuffledHashJoinExec(
          lks, rks, jtI, org.apache.spark.sql.catalyst.optimizer.BuildRight,
          None, left, right, false)
          if (jtI == org.apache.spark.sql.catalyst.plans.Inner ||
            jtI == org.apache.spark.sql.catalyst.plans.LeftOuter ||
            jtI == org.apache.spark.sql.catalyst.plans.RightOuter ||
            jtI == org.apache.spark.sql.catalyst.plans.FullOuter) &&
            innerShjEnabled(session) =>
        val build = right match {
          case r: org.apache.spark.sql.execution.RowToColumnarExec => r.child
          case p => p
        }
        val keyAttrsI = lks.map {
          case a: AttributeReference if left.output.exists(_.exprId == a.exprId) => Some(a)
          case _ => None
        }
        val dtsI = lks.map(_.dataType)
        val keyShapeOkI = keyAttrsI.forall(_.isDefined) &&
          org.apache.spark.sql.execution.graft.GraftColumnarBHJExec.semiProbeKeyShapeOk(dtsI)
        (keyShapeOkI, left.supportsColumnar) match {
          case (true, true)
              if build.output.forall(at => org.apache.spark.sql.execution.graft
                .GraftColumnarBHJExec.supportedBuildType(at.dataType)) =>
            val attrs = keyAttrsI.flatten
            val streamOrBuild = j.output.map { at =>
              val s = left.output.indexWhere(_.exprId == at.exprId)
              if (s >= 0) scala.Left(s)
              else scala.Right(build.output.indexWhere(_.exprId == at.exprId))
            }
            org.apache.spark.sql.execution.graft.GraftColumnarShuffledInnerJoinExec(
              j.output,
              lks, rks,
              attrs.map(a => left.output.indexWhere(_.exprId == a.exprId)),
              attrs.map(_.dataType),
              org.apache.spark.sql.types.StructType(build.output.map(at =>
                org.apache.spark.sql.types.StructField(at.name, at.dataType, at.nullable))),
              streamOrBuild,
              leftOuter = jtI == org.apache.spark.sql.catalyst.plans.LeftOuter ||
                jtI == org.apache.spark.sql.catalyst.plans.FullOuter,
              buildOuter = jtI == org.apache.spark.sql.catalyst.plans.RightOuter ||
                jtI == org.apache.spark.sql.catalyst.plans.FullOuter,
              left, right)
          case (_, true) =>
            j.setTagValue(fallbackReasonTag,
              "inner/outer shuffled join not columnar-probeable (needs " +
                "integral attribute keys packing into 8 bytes or a single " +
                "string/date/timestamp key, and supported build column types)"); j
          case _ => j
        }

      // Expand (rollup/cube/grouping-sets fan-out): each projection
      // item must be an input attribute (zero-copy pass-through) or a
      // constant-vector-representable literal (the nulled grouping
      // columns and the grouping-id). Anything computed keeps the row
      // path with a tagged reason.
      case e: org.apache.spark.sql.execution.ExpandExec
          if e.child.supportsColumnar && expandEnabled(session) =>
        import org.apache.spark.sql.execution.graft.{ConstCol, ExpandCol, GraftColumnarExpandExec, InputCol}
        val compiled: Seq[Seq[Either[String, ExpandCol]]] = e.projections.map(_.map {
          case a: AttributeReference
              if e.child.output.exists(_.exprId == a.exprId) =>
            scala.Right(InputCol(e.child.output.indexWhere(_.exprId == a.exprId)))
          case Alias(a: AttributeReference, _)
              if e.child.output.exists(_.exprId == a.exprId) =>
            scala.Right(InputCol(e.child.output.indexWhere(_.exprId == a.exprId)))
          case l: org.apache.spark.sql.catalyst.expressions.Literal
              if l.value == null || GraftColumnarExpandExec.supportedConstType(l.dataType) =>
            scala.Right(ConstCol(l.value, l.dataType))
          case other =>
            scala.Left(s"unsupported expand item: ${other.getClass.getSimpleName}")
        })
        compiled.flatten.collectFirst { case scala.Left(r) => r } match {
          case Some(reason) => e.setTagValue(fallbackReasonTag, reason); e
          case None =>
            GraftColumnarExpandExec(e.output,
              compiled.map(_.collect { case scala.Right(c) => c }), e.child)
        }

      // Per-partition sort over a columnar block: replace
      // ColumnarToRow + SortExec with the typed index sort
      // (GraftColumnarSortExec). Sort keys must be plain attributes and
      // EVERY output column a bufferable type (long/double family or
      // string) — the operator decomposes batches column-wise. Oversized
      // partitions spill sorted runs and merge (see the exec's scaladoc).
      case s: org.apache.spark.sql.execution.SortExec
          if s.child.supportsColumnar && (sortEnabled(session) ||
            (narrowSortEnabled(session) && s.output.length <= 4 &&
              s.output.forall(a => org.apache.spark.sql.execution.graft
                .GraftColumnarSortExec.numericColType(a.dataType)))) =>
        import org.apache.spark.sql.execution.graft.{GraftColumnarSortExec, TopKKeySpec}
        // No spill-safety gate needed: the columnar sort spills sorted
        // runs to disk on task-memory refusal or past its byte threshold
        // (see the exec's scaladoc), so bucketed scans (one unbounded
        // partition per bucket) and row-expanding columnar children
        // (join probes) are safe to swap — an oversized partition
        // degrades to run merge IO, exactly like the row SortExec's
        // UnsafeExternalSorter.
        val keySpecs: Seq[Either[String, TopKKeySpec]] = s.sortOrder.map { so =>
          so.child match {
            case a: AttributeReference
                if s.child.output.exists(_.exprId == a.exprId) &&
                  GraftColumnarSortExec.supportedColType(a.dataType) =>
              scala.Right(TopKKeySpec(
                s.child.output.indexWhere(_.exprId == a.exprId), a.dataType,
                desc = so.direction == org.apache.spark.sql.catalyst.expressions.Descending,
                nullsFirst = so.nullOrdering == org.apache.spark.sql.catalyst.expressions.NullsFirst))
            case other =>
              scala.Left(s"unsupported sort key: $other (${other.dataType})")
          }
        }
        val colsOk = s.child.output.forall(a =>
          GraftColumnarSortExec.supportedColType(a.dataType))
        keySpecs.collectFirst { case scala.Left(r) => r } match {
          case Some(reason) => s.setTagValue(fallbackReasonTag, reason); s
          case None if !colsOk =>
            s.setTagValue(fallbackReasonTag,
              "sort output has a non-bufferable column type (long/double " +
                "family and string only)"); s
          case None =>
            GraftColumnarSortExec(
              keySpecs.collect { case scala.Right(k) => k }, s.sortOrder, s.global, s.child)
        }

      // PARTIAL WindowGroupLimit (rank-1/top-k-per-key pushdown below the
      // shuffle): Spark's row operator needs a map-side SORT of the whole
      // input; the columnar probe replaces Sort + WindowGroupLimit with a
      // hash map of bounded per-group heaps over the scan's batches.
      // Matched ON THE EXCHANGE so the swap only fires when a shuffle
      // re-groups above — the one place dropping the sorted-run contract
      // (and overflow-flushing extra candidates) is always correct.
      case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if wglEnabled(session) &&
            ex.child.isInstanceOf[org.apache.spark.sql.execution.window.WindowGroupLimitExec] =>
        import org.apache.spark.sql.execution.graft.{GraftColumnarWindowGroupLimitExec, TopKKeySpec}
        val wgl = ex.child.asInstanceOf[org.apache.spark.sql.execution.window.WindowGroupLimitExec]
        val base = wgl.child match {
          case st: org.apache.spark.sql.execution.SortExec if !st.global => st.child
          // transformUp may already have swapped the map-side sort for
          // the columnar kernel — the WGL probe needs no sort at all,
          // so unwrap that too
          case gs: org.apache.spark.sql.execution.graft.GraftColumnarSortExec
              if !gs.global => gs.child
          case c => c
        }
        val partial = wgl.mode == org.apache.spark.sql.execution.window.Partial
        if (!base.supportsColumnar || !partial) ex
        else {
          val isRowNumber =
            wgl.rankLikeFunction.isInstanceOf[org.apache.spark.sql.catalyst.expressions.RowNumber]
          val pAttrs = wgl.partitionSpec.map {
            case a: AttributeReference
                if base.output.exists(_.exprId == a.exprId) &&
                  GraftColumnarWindowGroupLimitExec.supportedKeyType(a.dataType) => Some(a)
            case _ => None
          }
          val oSpecs = wgl.orderSpec.map { so =>
            so.child match {
              case a: AttributeReference
                  if base.output.exists(_.exprId == a.exprId) &&
                    GraftColumnarWindowGroupLimitExec.supportedKeyType(a.dataType) =>
                Some(TopKKeySpec(
                  base.output.indexWhere(_.exprId == a.exprId), a.dataType,
                  desc = so.direction == org.apache.spark.sql.catalyst.expressions.Descending,
                  nullsFirst = so.nullOrdering == org.apache.spark.sql.catalyst.expressions.NullsFirst))
              case _ => None
            }
          }
          val isRank =
            wgl.rankLikeFunction.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Rank]
          val isDenseRank =
            wgl.rankLikeFunction.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DenseRank]
          val keysOk = wgl.limit > 0 &&
            pAttrs.nonEmpty && pAttrs.size <= 2 && pAttrs.forall(_.isDefined) &&
            oSpecs.nonEmpty && oSpecs.forall(_.isDefined)
          if (!keysOk || !(isRowNumber || isRank || isDenseRank)) {
            wgl.setTagValue(fallbackReasonTag,
              "window group limit not columnar-probeable (needs row_number/" +
                "rank/dense_rank, 1-2 attribute partition keys and attribute " +
                "order keys of supported types)")
            ex
          } else {
            val maxGroups = session.conf.getOption(wglMaxGroupsKey)
              .map(_.toInt).getOrElse(wglDefaultMaxGroups)
            val pOrds = pAttrs.flatten.map(a => base.output.indexWhere(_.exprId == a.exprId))
            val pTypes = pAttrs.flatten.map(_.dataType)
            val swapped =
              if (isRowNumber)
                GraftColumnarWindowGroupLimitExec(
                  pOrds, pTypes, oSpecs.flatten, wgl.limit, maxGroups, base)
              else
                // rank/dense_rank: ties survive, so the probe tracks key
                // thresholds only and emits candidates zero-copy
                org.apache.spark.sql.execution.graft.GraftColumnarRankGroupLimitExec(
                  pOrds, pTypes, oSpecs.flatten, wgl.limit,
                  dense = isDenseRank, maxGroups, base)
            ex.withNewChildren(Seq(swapped))
          }
        }

      // Global top-k (ORDER BY + LIMIT [OFFSET]): when the child is
      // columnar, the row TakeOrderedAndProject would ColumnarToRow every
      // surviving row only to discard all but k. The columnar probe
      // compares the first sort key against the running k-th threshold
      // straight from the vector — losers never materialize. Sort keys
      // must be plain attributes of supported primitive/string types.
      // OFFSET rides along: the planner's `limit` is fetch+offset, the
      // probe keeps the full top-`limit` and drops `offset` rows at the
      // sorted single-partition emit (exactly the row operator's shape).
      case t @ org.apache.spark.sql.execution.TakeOrderedAndProjectExec(
          limit, sortOrder, projectList, child, offset)
          if child.supportsColumnar && topkEnabled(session) && limit > 0 &&
            offset >= 0 && offset < limit =>
        import org.apache.spark.sql.execution.graft.{GraftColumnarTopKExec, TopKKeySpec}
        val specs: Seq[Either[String, TopKKeySpec]] =
          sortOrder.map { so =>
            so.child match {
              case a: AttributeReference
                  if child.output.exists(_.exprId == a.exprId) &&
                    GraftColumnarTopKExec.supportedKeyType(a.dataType) =>
                scala.Right(TopKKeySpec(
                  child.output.indexWhere(_.exprId == a.exprId), a.dataType,
                  desc = so.direction == org.apache.spark.sql.catalyst.expressions.Descending,
                  nullsFirst = so.nullOrdering == org.apache.spark.sql.catalyst.expressions.NullsFirst))
              case other =>
                scala.Left(s"unsupported top-k sort key: $other (${other.dataType})")
            }
          }
        specs.collectFirst { case scala.Left(r) => r } match {
          case Some(reason) => t.setTagValue(fallbackReasonTag, reason); t
          case None =>
            GraftColumnarTopKExec(limit,
              specs.collect { case scala.Right(s) => s }, sortOrder, projectList, child,
              offset)
        }

      // Grouped FINAL aggregation: merge the shuffled partial-buffer
      // rows columnar and emit finalized vectors. Child is the exchange
      // (row stream) — the operator reads rows, so no RowToColumnar
      // materialization sneaks in. Swaps only when every grouping key /
      // function / result expression is the plain shape the kernel
      // reproduces exactly.
      case agg: HashAggregateExec
          if agg.groupingExpressions.nonEmpty && !agg.child.supportsColumnar &&
            agg.aggregateExpressions.forall(_.mode ==
              org.apache.spark.sql.catalyst.expressions.aggregate.Final) &&
            finalAggEnabled(session) =>
        // empty aggregateExpressions = a DISTINCT's final stage: the
        // merge dedups the shuffled key rows and emits key vectors.
        val bufOrd: Attribute => Int =
          a => agg.child.output.indexWhere(_.exprId == a.exprId)
        val keySpecs = agg.groupingExpressions.map {
          case a: AttributeReference
              if bufOrd(a) >= 0 && GraftColumnarGroupedAggExec.supportedKeyTypes(a.dataType) =>
            scala.Right(GroupKeySpec(bufOrd(a), a.dataType))
          case other => scala.Left(s"unsupported grouping key: $other (${other.dataType})")
        }
        val compiled = agg.aggregateExpressions.map(ae =>
          GraftColumnarAgg.compileFinal(ae, bufOrd))
        (keySpecs ++ compiled).collectFirst { case scala.Left(e) => e } match {
          case Some(reason) =>
            agg.setTagValue(fallbackReasonTag, reason); agg
          case None =>
            val ks = keySpecs.collect { case scala.Right(k) => k }
            val specs = compiled.collect { case scala.Right(s) => s }
            val keyAttrs = agg.groupingExpressions.collect {
              case a: AttributeReference => a }
            // the exec's planner-provided attributes, NOT
            // ae.resultAttribute: planAggregateWithOneDistinct rebinds a
            // distinct final's downstream references to fresh attributes
            // that only the exec field carries (they coincide for plain
            // finals).
            val aggResults = agg.aggregateAttributes
            val typesOk =
              aggResults.zip(specs).forall { case (a, s) =>
                a.dataType == GraftColumnarAgg.finalType(s) }
            if (!typesOk) {
              agg.setTagValue(fallbackReasonTag,
                "final aggregate result types differ from the kernel's"); agg
            } else {
              // Direct shape: every result expression is a (possibly
              // aliased, possibly reordered) plain reference to a key
              // or an aggregate result → the kernel emits agg.output
              // itself. Otherwise emit the plain values columnar and
              // let a row Project above evaluate the computed results
              // (CollapseProject folds e.g. round(sum(..)) into the
              // aggregate's resultExpressions — a 6-row projection, not
              // worth keeping the whole merge on the row path for).
              val keyIds = keyAttrs.map(_.exprId)
              val aggIds = aggResults.map(_.exprId)
              def src(a: Attribute): Option[Either[Int, Int]] = {
                val k = keyIds.indexOf(a.exprId)
                if (k >= 0) Some(scala.Left(k))
                else {
                  val s = aggIds.indexOf(a.exprId)
                  if (s >= 0) Some(scala.Right(s)) else None
                }
              }
              val mapped = agg.resultExpressions.map {
                case a: AttributeReference => src(a)
                case Alias(a: AttributeReference, _) => src(a)
                case _ => None
              }
              if (mapped.forall(_.isDefined)) {
                org.apache.spark.sql.execution.graft.GraftColumnarFinalAggExec(
                  agg.output, ks, specs, mapped.flatten, agg.child)
              } else {
                val plainOut: Seq[Attribute] = keyAttrs ++ aggResults
                val plainMap: Seq[Either[Int, Int]] =
                  keyAttrs.indices.map(scala.Left(_)) ++
                    specs.indices.map(scala.Right(_))
                ProjectExec(agg.resultExpressions,
                  org.apache.spark.sql.execution.graft.GraftColumnarFinalAggExec(
                    plainOut, ks, specs, plainMap, agg.child))
              }
            }
        }

      // Grouped PARTIAL-MERGE: the buffer re-merge Spark plans between
      // a partial and the next level (distinct plans' merge_count dedup,
      // multi-level aggregations). Same row-input merge machinery as
      // the FINAL swap — the flush just RE-EMITS the merged buffers in
      // the keys ++ buffer-attributes layout instead of finalizing.
      // Moments/cov/corr are gated out: their merge STATE layout
      // differs from the partial buffer layout the re-emit writes.
      case agg: HashAggregateExec
          if agg.groupingExpressions.nonEmpty && !agg.child.supportsColumnar &&
            agg.aggregateExpressions.nonEmpty &&
            agg.aggregateExpressions.forall(_.mode ==
              org.apache.spark.sql.catalyst.expressions.aggregate.PartialMerge) &&
            finalAggEnabled(session) =>
        val bufOrd: Attribute => Int =
          a => agg.child.output.indexWhere(_.exprId == a.exprId)
        val keySpecs = agg.groupingExpressions.map {
          case a: AttributeReference
              if bufOrd(a) >= 0 && GraftColumnarGroupedAggExec.supportedKeyTypes(a.dataType) =>
            scala.Right(GroupKeySpec(bufOrd(a), a.dataType))
          case other => scala.Left(s"unsupported grouping key: $other (${other.dataType})")
        }
        val compiled = agg.aggregateExpressions.map(ae =>
          GraftColumnarAgg.compileMerge(ae, bufOrd)).map {
          case scala.Right(s) if !GraftColumnarAgg.bufferReEmittable(s) =>
            scala.Left("merge state of the moments family cannot re-emit the partial buffer layout")
          case x => x
        }
        (keySpecs ++ compiled).collectFirst { case scala.Left(e) => e } match {
          case Some(reason) =>
            agg.setTagValue(fallbackReasonTag, reason); agg
          case None =>
            val ks = keySpecs.collect { case scala.Right(k) => k }
            val specs = compiled.collect { case scala.Right(s) => s }
            val keyIds = agg.groupingExpressions.collect {
              case a: AttributeReference => a.exprId }
            val layoutOk =
              agg.resultExpressions.forall(_.isInstanceOf[Attribute]) &&
                agg.resultExpressions.take(keyIds.size).collect {
                  case a: Attribute => a.exprId } == keyIds &&
                (agg.groupingExpressions.map(_.dataType) ++
                  specs.flatMap(GraftColumnarAgg.slotTypes)) == agg.output.map(_.dataType)
            if (layoutOk)
              org.apache.spark.sql.execution.graft.GraftColumnarFinalAggExec(
                agg.output, ks, specs, Nil, agg.child, emitBuffers = true)
            else {
              agg.setTagValue(fallbackReasonTag,
                "partial-merge output is not keys ++ plain buffer attributes"); agg
            }
        }

      // Streaming lag/lead: a node holding ONLY FrameLessOffset
      // functions needs maxLag + maxLead + 1 rows of context, not the
      // row WindowExec's whole buffered partition — O(k) memory under
      // COMPUTED PARTITION BY keys (pmod bucketing, expressions): every
      // window case below requires plain attribute keys, so materialize
      // the computed keys once in a row Project BELOW the window (free —
      // it fuses into the stage feeding the partition buffer, and
      // preserves the already-ensured ordering/distribution since the
      // sort keys are semantically the same values), rewrite the spec
      // onto the aliases, and RETRY the swap on the attribute-keyed
      // node. Commits only when the retry actually swapped to a graft
      // exec — otherwise the original node (with the retry's fallback
      // reason) is kept, so the degenerate outcome is never worse. An
      // attribute-only Project above restores the original output
      // (itself swapped to the zero-copy columnar select when the
      // window emits batches).
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.nonEmpty &&
            (w.partitionSpec.exists(e => !e.isInstanceOf[AttributeReference]) ||
              w.orderSpec.exists(so => !so.child.isInstanceOf[AttributeReference])) &&
            w.partitionSpec.forall(_.deterministic) &&
            w.orderSpec.forall(_.child.deterministic) &&
            w.getTagValue(computedPKeyTag).isEmpty =>
        val computed: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
          (w.partitionSpec ++ w.orderSpec.map(_.child))
            .filterNot(_.isInstanceOf[AttributeReference])
        val aliased = computed.zipWithIndex.map { case (e, i) =>
          e -> Alias(e, s"_graftpkey$i")()
        }
        def rewrite(e: org.apache.spark.sql.catalyst.expressions.Expression)
            : org.apache.spark.sql.catalyst.expressions.Expression = e match {
          case a: AttributeReference => a
          case other =>
            // Reference-equality lookup first (the exact instances from
            // partitionSpec/orderSpec flow through); semanticEquals as
            // the safety net if a future transformation copies the spec
            // expressions between the guard and this rewrite; the
            // original expression as last resort (the attribute-only
            // retry guard then simply declines — never worse).
            aliased.collectFirst { case (k, al) if k eq other => al.toAttribute }
              .orElse(aliased.collectFirst {
                case (k, al) if k.semanticEquals(other) => al.toAttribute
              })
              .getOrElse(other)
        }
        val proj = ProjectExec(
          w.child.output.map(a => a: org.apache.spark.sql.catalyst.expressions.NamedExpression) ++ aliased.map(_._2), w.child)
        val inner = org.apache.spark.sql.execution.window.WindowExec(
          w.windowExpression,
          w.partitionSpec.map(rewrite),
          w.orderSpec.map(so => so.copy(child = rewrite(so.child))),
          swapOne.applyOrElse(proj, identity[SparkPlan]))
        inner.setTagValue(computedPKeyTag, ())
        w.getTagValue(splitWindowTag).foreach(_ => inner.setTagValue(splitWindowTag, ()))
        val retried = swapOne.applyOrElse(inner, identity[SparkPlan])
        retried match {
          case still: org.apache.spark.sql.execution.window.WindowExec =>
            // retry declined — keep the original node, surface the reason
            still.getTagValue(fallbackReasonTag)
              .foreach(r => w.setTagValue(fallbackReasonTag, r))
            w
          case swappedW =>
            val restore = ProjectExec(w.output.map(a => a: org.apache.spark.sql.catalyst.expressions.NamedExpression), swappedW)
            swapOne.applyOrElse(restore, identity[SparkPlan])
        }

      // any partition-key skew (the sessionization/CDC shape).
      case w: org.apache.spark.sql.execution.window.WindowExec
          if windowAggEnabled(session) && w.windowExpression.forall {
            case Alias(org.apache.spark.sql.catalyst.expressions.WindowExpression(
              f: org.apache.spark.sql.catalyst.expressions.FrameLessOffsetWindowFunction,
              _), _) =>
              f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Lag] ||
                f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Lead]
            case _ => false
          } =>
        import org.apache.spark.sql.catalyst.expressions.{WindowExpression, FrameLessOffsetWindowFunction, Literal => Lit}
        import org.apache.spark.sql.execution.graft.{GraftWindowOffsetExec, WinOffsetSpec}
        val ordW: org.apache.spark.sql.catalyst.expressions.Expression => Int = {
          case a: AttributeReference => w.child.output.indexWhere(_.exprId == a.exprId)
          case _ => -1
        }
        val pKeysO = w.partitionSpec.map {
          case a: AttributeReference if ordW(a) >= 0 &&
              org.apache.spark.sql.execution.graft.GraftColumnarWindowExec
                .supportedPartType(a.dataType) =>
            scala.Right((ordW(a), a.dataType))
          case other => scala.Left(s"unsupported window partition key: $other")
        }
        val offCompiled: Seq[Either[String, WinOffsetSpec]] = w.windowExpression.map {
          case Alias(WindowExpression(f: FrameLessOffsetWindowFunction, _), _) =>
            (f.input, f.offset, f.default) match {
              case (a: AttributeReference,
                  Lit(off: Int, org.apache.spark.sql.types.IntegerType), dflt)
                  if ordW(a) >= 0 && !f.ignoreNulls &&
                    GraftWindowOffsetExec.supportedType(a.dataType) &&
                    (dflt == null || dflt.isInstanceOf[Lit]) =>
                val d = dflt match {
                  case l: Lit => l.value
                  case _ => null
                }
                scala.Right(WinOffsetSpec(ordW(a), off, d, a.dataType))
              case _ =>
                scala.Left(s"unsupported lag/lead shape: $f (needs an attribute " +
                  "input of long/double/string family, literal offset, literal " +
                  "default, ignoreNulls=false)")
            }
          case other => scala.Left(s"unexpected window expression: $other")
        }
        (pKeysO ++ offCompiled).collectFirst { case scala.Left(e) => e } match {
          case Some(reason) =>
            w.setTagValue(fallbackReasonTag, reason); w
          case None if pKeysO.isEmpty =>
            w.setTagValue(fallbackReasonTag, "empty PARTITION BY"); w
          case None =>
            val pk = pKeysO.collect { case scala.Right(p) => p }
            GraftWindowOffsetExec(w.output, pk.map(_._1), pk.map(_._2),
              offCompiled.collect { case scala.Right(s) => s }, w.child)
        }

      // Sliding ROWS-frame aggregation (moving averages / rolling
      // sums): a finite [lo, hi] frame needs only a frame-wide ring of
      // rows, not the row WindowExec's whole buffered partition —
      // O(frame) memory under any partition-key skew. Guard: EVERY
      // window expression is a Complete aggregate over a finite literal
      // ROWS frame (running/unbounded frames fall through to the
      // streaming case below; mixed nodes keep the row path).
      case w: org.apache.spark.sql.execution.window.WindowExec
          if windowAggEnabled(session) && w.windowExpression.forall {
            case Alias(org.apache.spark.sql.catalyst.expressions.WindowExpression(
              _: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression,
              org.apache.spark.sql.catalyst.expressions.WindowSpecDefinition(_, _,
                org.apache.spark.sql.catalyst.expressions.SpecifiedWindowFrame(
                  org.apache.spark.sql.catalyst.expressions.RowFrame, lo, hi))), _) =>
              slideBound(lo).isDefined && slideBound(hi).isDefined
            case _ => false
          } =>
        import org.apache.spark.sql.execution.graft.{GraftWindowSlidingExec, WinSlideSpec}
        import org.apache.spark.sql.catalyst.expressions.{WindowExpression, WindowSpecDefinition, SpecifiedWindowFrame}
        import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Sum, Min, Max, Count, Average}
        import org.apache.spark.sql.catalyst.expressions.EvalMode
        import org.apache.spark.sql.types._
        val ordS: org.apache.spark.sql.catalyst.expressions.Expression => Int = {
          case a: AttributeReference => w.child.output.indexWhere(_.exprId == a.exprId)
          case _ => -1
        }
        val longFamS: DataType => Boolean = {
          case ByteType | ShortType | IntegerType | LongType | BooleanType |
              DateType | TimestampType | TimestampNTZType => true
          case d: org.apache.spark.sql.types.DecimalType =>
            d.precision <= org.apache.spark.sql.types.Decimal.MAX_LONG_DIGITS
          case _ => false
        }
        val pKeysS = w.partitionSpec.map {
          case a: AttributeReference if ordS(a) >= 0 &&
              org.apache.spark.sql.execution.graft.GraftColumnarWindowExec
                .supportedPartType(a.dataType) =>
            scala.Right((ordS(a), a.dataType))
          case other => scala.Left(s"unsupported window partition key: $other")
        }
        val slideCompiled: Seq[Either[String, WinSlideSpec]] = w.windowExpression.map {
          case Alias(WindowExpression(
              AggregateExpression(af, Complete, false, None, _),
              WindowSpecDefinition(_, _, SpecifiedWindowFrame(_, loB, hiB))), _) =>
            val lo = slideBound(loB).get
            val hi = slideBound(hiB).get
            // the width cap is checked AFTER compilation: invertible
            // nodes (O(n) kernels) admit far wider frames than
            // recompute nodes — see the node-level check below
            if (lo > hi) scala.Left(s"degenerate frame [$lo, $hi]")
            else af match {
              case s @ Sum(a: AttributeReference, ctx) if ordS(a) >= 0 &&
                  (a.dataType == ByteType || a.dataType == ShortType ||
                    a.dataType == IntegerType || a.dataType == LongType) &&
                  ctx.evalMode != EvalMode.TRY =>
                scala.Right(WinSlideSpec(0, ordS(a), 0, s.dataType,
                  ctx.evalMode == EvalMode.ANSI, lo, hi))
              case s @ Sum(a: AttributeReference, _) if ordS(a) >= 0 &&
                  (a.dataType == DoubleType || a.dataType == FloatType) =>
                scala.Right(WinSlideSpec(0, ordS(a), 1, s.dataType, ansi = false, lo, hi))
              case Count(Seq(l: org.apache.spark.sql.catalyst.expressions.Literal))
                  if l.value != null =>
                scala.Right(WinSlideSpec(5, -1, 2, LongType, ansi = false, lo, hi))
              case Count(Seq(a: AttributeReference)) if ordS(a) >= 0 =>
                scala.Right(WinSlideSpec(1, ordS(a), 2, LongType, ansi = false, lo, hi))
              case m @ Min(a: AttributeReference) if ordS(a) >= 0 && longFamS(a.dataType) =>
                scala.Right(WinSlideSpec(2, ordS(a), 0, m.dataType, ansi = false, lo, hi))
              case m @ Min(a: AttributeReference) if ordS(a) >= 0 &&
                  (a.dataType == DoubleType || a.dataType == FloatType) =>
                scala.Right(WinSlideSpec(2, ordS(a), 1, m.dataType, ansi = false, lo, hi))
              case m @ Max(a: AttributeReference) if ordS(a) >= 0 && longFamS(a.dataType) =>
                scala.Right(WinSlideSpec(3, ordS(a), 0, m.dataType, ansi = false, lo, hi))
              case m @ Max(a: AttributeReference) if ordS(a) >= 0 &&
                  (a.dataType == DoubleType || a.dataType == FloatType) =>
                scala.Right(WinSlideSpec(3, ordS(a), 1, m.dataType, ansi = false, lo, hi))
              case av @ Average(a: AttributeReference, em) if ordS(a) >= 0 &&
                  (longFamS(a.dataType) && !a.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
                    a.dataType != DateType && a.dataType != TimestampType &&
                    a.dataType != TimestampNTZType && a.dataType != BooleanType ||
                    a.dataType == DoubleType || a.dataType == FloatType) &&
                  em != EvalMode.TRY =>
                val lane = if (a.dataType == DoubleType || a.dataType == FloatType) 1 else 0
                scala.Right(WinSlideSpec(4, ordS(a), lane, av.dataType, ansi = false, lo, hi))
              case other =>
                scala.Left(s"unsupported sliding window aggregate: $other (${other.dataType})")
            }
          case other =>
            scala.Left(s"unexpected sliding window expression: $other")
        }
        (pKeysS ++ slideCompiled).collectFirst { case scala.Left(e) => e } match {
          case Some(reason) =>
            w.setTagValue(fallbackReasonTag, reason); w
          case None if pKeysS.isEmpty =>
            w.setTagValue(fallbackReasonTag, "empty PARTITION BY"); w
          case None =>
            val pk = pKeysS.collect { case scala.Right(p) => p }
            val sps = slideCompiled.collect { case scala.Right(s) => s }
            // node-wide width vs the mode's cap: all-invertible nodes
            // run the O(n) kernels (9 B/row value rings) and admit 2M-row
            // frames; a double/ANSI-sum or avg spec forces the slice
            // recompute whose eager row ring stays capped at 64K
            val span = math.max(0L, sps.map(_.hi).max) + 1L -
              math.min(0L, sps.map(_.lo).min)
            val capRows =
              if (sps.forall(org.apache.spark.sql.execution.graft
                .GraftWindowSlidingExec.invertible))
                org.apache.spark.sql.execution.graft
                  .GraftWindowSlidingExec.maxInvertibleFrameRows
              else org.apache.spark.sql.execution.graft
                .GraftWindowSlidingExec.maxFrameRows
            if (span > capRows) {
              w.setTagValue(fallbackReasonTag,
                s"frame span $span wider than the ring cap $capRows"); w
            } else {
              GraftWindowSlidingExec(w.output, pk.map(_._1), pk.map(_._2),
                sps, w.child)
            }
        }

      // Sliding RANGE-frame aggregation (rolling time/value windows:
      // RANGE 7 PRECEDING over a numeric key, INTERVAL '1' HOUR over a
      // timestamp): a value-bounded ring holds only the rows inside the
      // widest live frame — O(occupancy) memory vs the row WindowExec's
      // whole buffered partition. Guard: every expression is a Complete
      // aggregate over a finite RANGE frame whose bounds convert to
      // ORDER-BY-value deltas, single attribute ORDER BY key.
      case w: org.apache.spark.sql.execution.window.WindowExec
          if windowAggEnabled(session) && w.orderSpec.size == 1 &&
            w.orderSpec.head.child.isInstanceOf[AttributeReference] &&
            w.windowExpression.forall {
              case Alias(org.apache.spark.sql.catalyst.expressions.WindowExpression(
                _: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression,
                org.apache.spark.sql.catalyst.expressions.WindowSpecDefinition(_, _,
                  org.apache.spark.sql.catalyst.expressions.SpecifiedWindowFrame(
                    org.apache.spark.sql.catalyst.expressions.RangeFrame, lo, hi))), _) =>
                val ot = w.orderSpec.head.child.dataType
                rangeBound(lo, ot).isDefined && rangeBound(hi, ot).isDefined
              case _ => false
            } =>
        import org.apache.spark.sql.execution.graft.{GraftWindowRangeSlideExec, WinSlideSpec}
        import org.apache.spark.sql.catalyst.expressions.{WindowExpression, WindowSpecDefinition, SpecifiedWindowFrame}
        import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Sum, Min, Max, Count, Average}
        import org.apache.spark.sql.catalyst.expressions.EvalMode
        import org.apache.spark.sql.types._
        val ordR: org.apache.spark.sql.catalyst.expressions.Expression => Int = {
          case a: AttributeReference => w.child.output.indexWhere(_.exprId == a.exprId)
          case _ => -1
        }
        val longFamR: DataType => Boolean = {
          case ByteType | ShortType | IntegerType | LongType | BooleanType |
              DateType | TimestampType | TimestampNTZType => true
          case d: org.apache.spark.sql.types.DecimalType =>
            d.precision <= org.apache.spark.sql.types.Decimal.MAX_LONG_DIGITS
          case _ => false
        }
        val so = w.orderSpec.head
        val oAttr = so.child.asInstanceOf[AttributeReference]
        val oType = oAttr.dataType
        val orderableKey = oType match {
          case ByteType | ShortType | IntegerType | LongType | DateType |
              TimestampType | TimestampNTZType | DoubleType => true
          case _ => false
        }
        val pKeysR = w.partitionSpec.map {
          case a: AttributeReference if ordR(a) >= 0 &&
              org.apache.spark.sql.execution.graft.GraftColumnarWindowExec
                .supportedPartType(a.dataType) =>
            scala.Right((ordR(a), a.dataType))
          case other => scala.Left(s"unsupported window partition key: $other")
        }
        val rangeCompiled: Seq[Either[String, WinSlideSpec]] = w.windowExpression.map {
          case Alias(WindowExpression(
              AggregateExpression(af, Complete, false, None, _),
              WindowSpecDefinition(_, _, SpecifiedWindowFrame(_, loB, hiB))), _) =>
            val lo = rangeBound(loB, oType).get
            val hi = rangeBound(hiB, oType).get
            // double bounds travel as bits — decode for the sanity check
            val degenerate =
              if (oType == DoubleType)
                java.lang.Double.longBitsToDouble(lo) > java.lang.Double.longBitsToDouble(hi)
              else lo > hi
            if (degenerate) scala.Left(s"degenerate RANGE frame [$lo, $hi]")
            else af match {
              case s @ Sum(a: AttributeReference, ctx) if ordR(a) >= 0 &&
                  (a.dataType == ByteType || a.dataType == ShortType ||
                    a.dataType == IntegerType || a.dataType == LongType) &&
                  ctx.evalMode != EvalMode.TRY =>
                scala.Right(WinSlideSpec(0, ordR(a), 0, s.dataType,
                  ctx.evalMode == EvalMode.ANSI, lo, hi))
              case s @ Sum(a: AttributeReference, _) if ordR(a) >= 0 &&
                  (a.dataType == DoubleType || a.dataType == FloatType) =>
                scala.Right(WinSlideSpec(0, ordR(a), 1, s.dataType, ansi = false, lo, hi))
              case Count(Seq(l: org.apache.spark.sql.catalyst.expressions.Literal))
                  if l.value != null =>
                scala.Right(WinSlideSpec(5, -1, 2, LongType, ansi = false, lo, hi))
              case Count(Seq(a: AttributeReference)) if ordR(a) >= 0 =>
                scala.Right(WinSlideSpec(1, ordR(a), 2, LongType, ansi = false, lo, hi))
              case m @ Min(a: AttributeReference) if ordR(a) >= 0 && longFamR(a.dataType) =>
                scala.Right(WinSlideSpec(2, ordR(a), 0, m.dataType, ansi = false, lo, hi))
              case m @ Min(a: AttributeReference) if ordR(a) >= 0 &&
                  (a.dataType == DoubleType || a.dataType == FloatType) =>
                scala.Right(WinSlideSpec(2, ordR(a), 1, m.dataType, ansi = false, lo, hi))
              case m @ Max(a: AttributeReference) if ordR(a) >= 0 && longFamR(a.dataType) =>
                scala.Right(WinSlideSpec(3, ordR(a), 0, m.dataType, ansi = false, lo, hi))
              case m @ Max(a: AttributeReference) if ordR(a) >= 0 &&
                  (a.dataType == DoubleType || a.dataType == FloatType) =>
                scala.Right(WinSlideSpec(3, ordR(a), 1, m.dataType, ansi = false, lo, hi))
              case av @ Average(a: AttributeReference, em) if ordR(a) >= 0 &&
                  (longFamR(a.dataType) && !a.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
                    a.dataType != DateType && a.dataType != TimestampType &&
                    a.dataType != TimestampNTZType && a.dataType != BooleanType ||
                    a.dataType == DoubleType || a.dataType == FloatType) &&
                  em != EvalMode.TRY =>
                val lane = if (a.dataType == DoubleType || a.dataType == FloatType) 1 else 0
                scala.Right(WinSlideSpec(4, ordR(a), lane, av.dataType, ansi = false, lo, hi))
              case other =>
                scala.Left(s"unsupported RANGE window aggregate: $other (${other.dataType})")
            }
          case other =>
            scala.Left(s"unexpected RANGE window expression: $other")
        }
        val keyOk =
          if (!orderableKey) scala.Seq(scala.Left(
            s"unsupported RANGE order key type: $oType"))
          else if (ordR(oAttr) < 0) scala.Seq(scala.Left(
            "RANGE order key is not a child attribute"))
          else scala.Seq.empty
        (pKeysR ++ keyOk ++ rangeCompiled).collectFirst { case scala.Left(e) => e } match {
          case Some(reason) =>
            w.setTagValue(fallbackReasonTag, reason); w
          case None if pKeysR.isEmpty =>
            w.setTagValue(fallbackReasonTag, "empty PARTITION BY"); w
          case None =>
            val pk = pKeysR.collect { case scala.Right(p) => p }
            val dirSign = if (so.direction ==
              org.apache.spark.sql.catalyst.expressions.Ascending) 1 else -1
            val nFirst = so.nullOrdering ==
              org.apache.spark.sql.catalyst.expressions.NullsFirst
            GraftWindowRangeSlideExec(w.output, pk.map(_._1), pk.map(_._2),
              ordR(oAttr), oType, dirSign, nFirst,
              rangeCompiled.collect { case scala.Right(s) => s }, w.child)
        }

      // Window aggregation over the RUNNING ROWS frame (UNBOUNDED
      // PRECEDING .. CURRENT ROW): the row WindowExec copies every
      // partition group into a (spillable) buffer before computing;
      // the swap streams ONE accumulator set per function over input
      // EnsureRequirements already ordered by (partition, order) —
      // batch kernels over a columnar child (scan-side window), an
      // InternalRow pass over the shuffled row shape (reference
      // analogue: CometWindowExec.scala:41-388 whitelist). All window
      // expressions must compile or none swap (the node is atomic).
      case w: org.apache.spark.sql.execution.window.WindowExec
          if windowAggEnabled(session) =>
        import org.apache.spark.sql.execution.graft.{GraftColumnarWindowExec, WinAggSpec}
        import org.apache.spark.sql.catalyst.expressions.{WindowExpression, WindowSpecDefinition, SpecifiedWindowFrame, RowFrame, UnboundedPreceding, CurrentRow}
        import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Sum, Min, Max, Count, Average}
        import org.apache.spark.sql.catalyst.expressions.EvalMode
        import org.apache.spark.sql.types._
        val ord: org.apache.spark.sql.catalyst.expressions.Expression => Int = {
          case a: AttributeReference => w.child.output.indexWhere(_.exprId == a.exprId)
          case _ => -1
        }
        val longFam: DataType => Boolean = {
          case ByteType | ShortType | IntegerType | LongType | BooleanType |
              DateType | TimestampType | TimestampNTZType => true
          case d: org.apache.spark.sql.types.DecimalType =>
            d.precision <= org.apache.spark.sql.types.Decimal.MAX_LONG_DIGITS
          case _ => false
        }
        val pKeys = w.partitionSpec.map {
          case a: AttributeReference if ord(a) >= 0 &&
              org.apache.spark.sql.execution.graft.GraftColumnarWindowExec
                .supportedPartType(a.dataType) =>
            scala.Right((ord(a), a.dataType))
          case other => scala.Left(s"unsupported window partition key: $other")
        }
        def compileRunning(
            af: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction,
            frame: org.apache.spark.sql.catalyst.expressions.WindowFrame)
            : Either[String, WinAggSpec] = {
            val excl = isExclFrame(frame)
            val kind = if (excl) 0 else frameKind(frame).get
            val base: Either[String, WinAggSpec] = af match {
              case s @ Sum(a: AttributeReference, ctx) if ord(a) >= 0 &&
                  (a.dataType == ByteType || a.dataType == ShortType ||
                    a.dataType == IntegerType || a.dataType == LongType) &&
                  ctx.evalMode != EvalMode.TRY =>
                scala.Right(WinAggSpec(0, ord(a), 0, s.dataType,
                  ctx.evalMode == EvalMode.ANSI, kind))
              case s @ Sum(a: AttributeReference, _) if ord(a) >= 0 &&
                  (a.dataType == DoubleType || a.dataType == FloatType) =>
                scala.Right(WinAggSpec(0, ord(a), 1, s.dataType, ansi = false, kind))
              case Count(Seq(l: org.apache.spark.sql.catalyst.expressions.Literal))
                  if l.value != null =>
                scala.Right(WinAggSpec(5, -1, 2, LongType, ansi = false, kind))
              case Count(Seq(a: AttributeReference)) if ord(a) >= 0 =>
                scala.Right(WinAggSpec(1, ord(a), 2, LongType, ansi = false, kind))
              case m @ Min(a: AttributeReference) if ord(a) >= 0 && longFam(a.dataType) =>
                scala.Right(WinAggSpec(2, ord(a), 0, m.dataType, ansi = false, kind))
              case m @ Min(a: AttributeReference) if ord(a) >= 0 &&
                  (a.dataType == DoubleType || a.dataType == FloatType) =>
                scala.Right(WinAggSpec(2, ord(a), 1, m.dataType, ansi = false, kind))
              case m @ Max(a: AttributeReference) if ord(a) >= 0 && longFam(a.dataType) =>
                scala.Right(WinAggSpec(3, ord(a), 0, m.dataType, ansi = false, kind))
              case m @ Max(a: AttributeReference) if ord(a) >= 0 &&
                  (a.dataType == DoubleType || a.dataType == FloatType) =>
                scala.Right(WinAggSpec(3, ord(a), 1, m.dataType, ansi = false, kind))
              case av @ Average(a: AttributeReference, em) if ord(a) >= 0 &&
                  (longFam(a.dataType) && !a.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
                    a.dataType != DateType && a.dataType != TimestampType &&
                    a.dataType != TimestampNTZType && a.dataType != BooleanType ||
                    a.dataType == DoubleType || a.dataType == FloatType) &&
                  em != EvalMode.TRY =>
                val lane = if (a.dataType == DoubleType || a.dataType == FloatType) 1 else 0
                scala.Right(WinAggSpec(4, ord(a), lane, av.dataType, ansi = false, kind))
              // first/last on the boxed lane (last + ignoreNulls over
              // the running frame is the forward-fill / as-of shape)
              case f: org.apache.spark.sql.catalyst.expressions.aggregate.First
                  if f.child.isInstanceOf[AttributeReference] &&
                    ord(f.child) >= 0 &&
                    org.apache.spark.sql.execution.graft.GraftWindowOffsetExec
                      .supportedType(f.child.dataType) =>
                scala.Right(WinAggSpec(9, ord(f.child), 3, f.child.dataType,
                  ansi = false, kind, ign = f.ignoreNulls))
              case l: org.apache.spark.sql.catalyst.expressions.aggregate.Last
                  if l.child.isInstanceOf[AttributeReference] &&
                    ord(l.child) >= 0 &&
                    org.apache.spark.sql.execution.graft.GraftWindowOffsetExec
                      .supportedType(l.child.dataType) =>
                scala.Right(WinAggSpec(10, ord(l.child), 3, l.child.dataType,
                  ansi = false, kind, ign = l.ignoreNulls))
              case other =>
                scala.Left(s"unsupported window aggregate: $other (${other.dataType})")
            }
            val gated = base.flatMap { spec =>
              // SUFFIX frames admit the ASSOCIATIVE lanes: block suffix
              // combination reorders the accumulation, which is free
              // for modular long sums / counts / min-max but changes
              // double-sum and avg BITS — those keep the row path. ANSI
              // long sums ARE admitted: the face runs a safe-bound fast
              // path (no overflow possible in any order) or an exact
              // BigInteger prefix-extrema pass reproducing the row
              // path's throw-or-value per row. first/last ride a boxed
              // lane (first+ignoreNulls over the suffix = BACKFILL, the
              // forward-fill mirror; last = the partition tail's value)
              if (spec.kind >= 3 && !(spec.fn == 1 || spec.fn == 5 ||
                  spec.fn == 2 || spec.fn == 3 || spec.fn == 9 || spec.fn == 10 ||
                  (spec.fn == 0 && spec.lane == 0)))
                scala.Left("suffix frame (CURRENT ROW .. UNBOUNDED FOLLOWING) " +
                  "supports associative lanes only (integral sum, count, " +
                  "min/max); double sums and avg keep the row path")
              else scala.Right(spec)
            }
            if (excl) gated.map(_.copy(excl = true)) else gated
        }
        val compiled: Seq[Either[String, WinAggSpec]] = w.windowExpression.map {
          case Alias(WindowExpression(
              AggregateExpression(af, Complete, false, None, _),
              WindowSpecDefinition(_, _, frame)), _)
              if frameKind(frame).isDefined || isExclFrame(frame) ||
                slideFrame(frame).isDefined =>
            val slide = slideFrame(frame)
            if (slide.isDefined) {
              val (lo, hi) = slide.get
              def sp13(op: Int, col: Int, lane: Int, ot: DataType,
                  ansi: Boolean = false): Either[String, WinAggSpec] =
                scala.Right(WinAggSpec(13, col, lane, ot, ansi, 0,
                  off = op, sLo = lo.toInt, sHi = hi.toInt))
              if (lo > hi) scala.Left(s"degenerate frame [$lo, $hi]")
              else if (math.max(0L, hi) - math.min(0L, lo) + 1L >
                org.apache.spark.sql.execution.graft.GraftWindowSlidingExec.maxFrameRows)
                scala.Left(s"mixed-node sliding frame [$lo, $hi] wider than the ring cap")
              else af match {
                case s @ Sum(a: AttributeReference, ctx) if ord(a) >= 0 &&
                    (a.dataType == ByteType || a.dataType == ShortType ||
                      a.dataType == IntegerType || a.dataType == LongType) &&
                    ctx.evalMode != EvalMode.TRY =>
                  sp13(0, ord(a), 0, s.dataType, ctx.evalMode == EvalMode.ANSI)
                case s @ Sum(a: AttributeReference, _) if ord(a) >= 0 &&
                    (a.dataType == DoubleType || a.dataType == FloatType) =>
                  sp13(0, ord(a), 1, s.dataType)
                case Count(Seq(l: org.apache.spark.sql.catalyst.expressions.Literal))
                    if l.value != null =>
                  sp13(5, -1, 2, LongType)
                case Count(Seq(a: AttributeReference)) if ord(a) >= 0 =>
                  sp13(1, ord(a), 2, LongType)
                case m @ Min(a: AttributeReference) if ord(a) >= 0 && longFam(a.dataType) =>
                  sp13(2, ord(a), 0, m.dataType)
                case m @ Min(a: AttributeReference) if ord(a) >= 0 &&
                    (a.dataType == DoubleType || a.dataType == FloatType) =>
                  sp13(2, ord(a), 1, m.dataType)
                case m @ Min(a: AttributeReference) if ord(a) >= 0 &&
                    a.dataType == StringType =>
                  sp13(2, ord(a), 3, m.dataType)
                case m @ Max(a: AttributeReference) if ord(a) >= 0 && longFam(a.dataType) =>
                  sp13(3, ord(a), 0, m.dataType)
                case m @ Max(a: AttributeReference) if ord(a) >= 0 &&
                    (a.dataType == DoubleType || a.dataType == FloatType) =>
                  sp13(3, ord(a), 1, m.dataType)
                case m @ Max(a: AttributeReference) if ord(a) >= 0 &&
                    a.dataType == StringType =>
                  sp13(3, ord(a), 3, m.dataType)
                case av @ Average(a: AttributeReference, em) if ord(a) >= 0 &&
                    (longFam(a.dataType) && !a.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
                      a.dataType != DateType && a.dataType != TimestampType &&
                      a.dataType != TimestampNTZType && a.dataType != BooleanType ||
                      a.dataType == DoubleType || a.dataType == FloatType) &&
                    em != EvalMode.TRY =>
                  val lane = if (a.dataType == DoubleType || a.dataType == FloatType) 1 else 0
                  sp13(4, ord(a), lane, av.dataType)
                case other =>
                  scala.Left(s"unsupported mixed-node sliding aggregate: $other")
              }
            } else compileRunning(af, frame)
          // lag/lead mixed with other streaming functions (a PURE
          // offset node took the GraftWindowOffsetExec case above):
          // fn-12 specs read the emission ring directly
          case Alias(WindowExpression(
              f: org.apache.spark.sql.catalyst.expressions.FrameLessOffsetWindowFunction,
              _), _)
              if f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Lag] ||
                f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Lead] =>
            (f.input, f.offset, f.default) match {
              case (a: AttributeReference,
                  org.apache.spark.sql.catalyst.expressions.Literal(off: Int, IntegerType),
                  dflt)
                  if ord(a) >= 0 && !f.ignoreNulls &&
                    org.apache.spark.sql.execution.graft.GraftWindowOffsetExec
                      .supportedType(a.dataType) &&
                    (dflt == null ||
                      dflt.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]) =>
                val d = dflt match {
                  case l: org.apache.spark.sql.catalyst.expressions.Literal => l.value
                  case _ => null
                }
                scala.Right(WinAggSpec(12, ord(a), 3, a.dataType, ansi = false, 0,
                  off = off, dflt = d))
              case _ =>
                scala.Left(s"unsupported mixed lag/lead shape: $f (needs an attribute " +
                  "input, literal offset, literal default, ignoreNulls=false)")
            }
          // ranking functions: per-row streaming values (their frame is
          // ROWS UNBOUNDED..CURRENT by definition); rank/dense_rank peer
          // detection is validated below against the node's ORDER BY
          case Alias(WindowExpression(
              _: org.apache.spark.sql.catalyst.expressions.RowNumber,
              WindowSpecDefinition(_, _, frame)), _) if frameKind(frame).contains(0) =>
            scala.Right(WinAggSpec(6, -1, 2, IntegerType, ansi = false, 0))
          case Alias(WindowExpression(
              _: org.apache.spark.sql.catalyst.expressions.Rank,
              WindowSpecDefinition(_, _, frame)), _) if frameKind(frame).contains(0) =>
            scala.Right(WinAggSpec(7, -1, 2, IntegerType, ansi = false, 0))
          case Alias(WindowExpression(
              _: org.apache.spark.sql.catalyst.expressions.DenseRank,
              WindowSpecDefinition(_, _, frame)), _) if frameKind(frame).contains(0) =>
            scala.Right(WinAggSpec(8, -1, 2, IntegerType, ansi = false, 0))
          // size-based functions (SizeBasedWindowFunction — need the
          // partition row count): the node runs the partition-buffered
          // row face; ntile/percent_rank close at the row (ROWS frame),
          // cume_dist at the peer group's end (RANGE frame)
          case Alias(WindowExpression(
              nt: org.apache.spark.sql.catalyst.expressions.NTile,
              WindowSpecDefinition(_, _, frame)), _) if frameKind(frame).contains(0) =>
            nt.buckets match {
              case org.apache.spark.sql.catalyst.expressions.Literal(b: Int, IntegerType)
                  if b > 0 =>
                scala.Right(WinAggSpec(14, -1, 2, IntegerType, ansi = false, 0, nth = b))
              case other =>
                scala.Left(s"ntile bucket count must be a positive int literal: $other")
            }
          case Alias(WindowExpression(
              _: org.apache.spark.sql.catalyst.expressions.PercentRank,
              WindowSpecDefinition(_, _, frame)), _) if frameKind(frame).contains(0) =>
            scala.Right(WinAggSpec(15, -1, 2, DoubleType, ansi = false, 0))
          case Alias(WindowExpression(
              _: org.apache.spark.sql.catalyst.expressions.CumeDist,
              WindowSpecDefinition(_, _, frame)), _) if frameKind(frame).contains(1) =>
            scala.Right(WinAggSpec(16, -1, 2, DoubleType, ansi = false, 1))
          // nth_value (note: Spark rewrites first_value WITHOUT
          // ignoreNulls into nth_value(x, 1, false)); boxed lane.
          // Over a SUFFIX frame only n = 1 is supported — it IS
          // first_value there, so it maps onto the fn-9 suffix lane
          case Alias(WindowExpression(
              org.apache.spark.sql.catalyst.expressions.NthValue(
                a: AttributeReference,
                org.apache.spark.sql.catalyst.expressions.Literal(n: Int, IntegerType),
                ign),
              WindowSpecDefinition(_, _, frame)), _)
              if frameKind(frame).exists(k => k <= 2 || n == 1) && ord(a) >= 0 &&
                n > 0 &&
                org.apache.spark.sql.execution.graft.GraftWindowOffsetExec
                  .supportedType(a.dataType) =>
            val k = frameKind(frame).get
            if (k >= 3)
              scala.Right(WinAggSpec(9, ord(a), 3, a.dataType, ansi = false,
                k, ign = ign))
            else
              scala.Right(WinAggSpec(11, ord(a), 3, a.dataType, ansi = false,
                k, ign = ign, nth = n))
          case other =>
            scala.Left(s"unsupported window expression shape: ${other.getClass.getSimpleName}" +
              " (running ROWS/RANGE or whole-partition frame over Complete agg," +
              " or row_number/rank/dense_rank, only)")
        }
        (pKeys ++ compiled).collectFirst { case scala.Left(e) => e } match {
          case Some(reason) =>
            w.setTagValue(fallbackReasonTag, reason); w
          case None if pKeys.isEmpty =>
            // a windowless-partition spec means ONE global group — the
            // row exec's single-partition plan; no win, keep it
            w.setTagValue(fallbackReasonTag, "empty PARTITION BY"); w
          case None =>
            val pk = pKeys.collect { case scala.Right(p) => p }
            val sp = compiled.collect { case scala.Right(s) => s }
            val kinds = sp.map(_.kind).distinct
            // deferred kinds (1: peer-group close, 2: partition close)
            // need group buffering with one shared close point — mixing
            // evaluation kinds in one node would need per-row value
            // storage, so only homogeneous nodes swap. Exception: the
            // SUFFIX kinds 3 (ROWS) and 4 (RANGE) share one
            // block-combined face and may mix freely.
            // RANGE running frames, rank/dense_rank AND the RANGE
            // suffix all detect peer groups on the node's ORDER BY keys
            val needPeerKeys = kinds.head == 1 || kinds.contains(4) ||
              sp.exists(s => s.fn == 7 || s.fn == 8 || s.fn == 15)
            if (kinds.size > 1 && !kinds.forall(k => k == 3 || k == 4)) {
              w.setTagValue(fallbackReasonTag,
                "mixed window frame kinds in one node (streaming + deferred)"); w
            } else if (sp.exists(_.fn >= 14) &&
              sp.exists(s => s.excl || s.fn == 12 || s.fn == 13)) {
              // the size-based path's emission cursors replay plain
              // streaming updates only — not the offset ring / sliding
              // slice machines
              w.setTagValue(fallbackReasonTag,
                "size-based window function (ntile/percent_rank/cume_dist) " +
                  "mixed with offset/sliding/exclusive specs"); w
            } else if (needPeerKeys && (w.orderSpec.isEmpty || !w.orderSpec.forall {
              so => so.child match {
                case a: AttributeReference =>
                  ord(a) >= 0 && org.apache.spark.sql.execution.graft
                    .GraftColumnarWindowExec.supportedPeerType(a.dataType)
                case _ => false
              }
            })) {
              w.setTagValue(fallbackReasonTag,
                "peer detection (RANGE running frame / rank / dense_rank) " +
                  "needs attribute ORDER BY keys of long-family/string/" +
                  "double types"); w
            } else {
              val ok = if (needPeerKeys) w.orderSpec.map(_.child
                .asInstanceOf[AttributeReference]) else Seq.empty
              GraftColumnarWindowExec(w.output,
                pk.map(_._1), pk.map(_._2),
                ok.map(a => ord(a)), ok.map(_.dataType),
                sp, w.child)
            }
        }

      // Grouped partial aggregation: attribute-only keys of long-family/
      // string types, compilable functions, plain buffer layout.
      // Memory-bounded by maxGroups (early flush of partial rows — the
      // final merge dedups). HashAggregate swaps over its columnar child
      // directly; a partial SortAggregate (string/immutable buffer types
      // — min/max/first/last over strings) sits on a map-side Sort the
      // hash kernel does not need, so the swap absorbs BOTH nodes (the
      // WindowGroupLimit move) when the sort's input is columnar.
      // A/B (FilterMicroBench grouped-agg-sortabsorb*, sf0.1, 3 runs):
      // low-card string min/max/last 0.56-0.58x (the eliminated sort
      // dominates); hi-card 0.81-1.05x — parity within run noise (flush
      // epochs trade against the radix sort's long-key speed).
      //
      // aggregateExpressions may be EMPTY: a DISTINCT's partial
      // HashAggregate is keys-only, and the kernel's zero-spec case
      // is exactly per-partition dedup (maxGroups flush stays safe —
      // the final stage re-dedups).
      case agg: HashAggregateExec
          if agg.groupingExpressions.nonEmpty &&
            (agg.child.supportsColumnar || rowInputAggEnabled(session)) =>
        swapGroupedPartial(agg, agg.child)

      // Partial SortAggregate absorption is matched ON THE EXCHANGE (the
      // WindowGroupLimit pattern above), never on the bare node:
      // SortAggregateExec's outputOrdering (grouping keys) can satisfy a
      // downstream requiredChildOrdering when NO shuffle intervenes
      // (group-by on a bucketed table's sorted bucket column, a
      // single-partition plan) — EnsureRequirements has already run, so
      // swapping in the hash kernel (outputOrdering = Nil) there would
      // feed the final SortAggregate unsorted rows and silently produce
      // duplicate groups. Under a shuffle the map-side ordering is
      // destroyed anyway, so absorbing Sort + SortAggregate is safe.
      case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if ex.child.isInstanceOf[SortAggregateExec] &&
            ex.child.asInstanceOf[SortAggregateExec].groupingExpressions.nonEmpty =>
        val agg = ex.child.asInstanceOf[SortAggregateExec]
        val base: SparkPlan = agg.child match {
          case st: org.apache.spark.sql.execution.SortExec
              if !st.global && st.child.supportsColumnar => st.child
          // transformUp may already have swapped the map-side sort
          // for the columnar kernel — absorb it too
          case gs: org.apache.spark.sql.execution.graft.GraftColumnarSortExec
              if !gs.global => gs.child
          case _ => null
        }
        if (base == null) ex
        else {
          val swapped = swapGroupedPartial(agg, base)
          if (swapped eq agg) ex else ex.withNewChildren(Seq(swapped))
        }

      // Global partial aggregation: both HashAggregate and SortAggregate
      // (the planner picks Sort when a buffer type — string, timestamp —
      // is not UnsafeRow-mutable; without grouping keys the partial
      // semantics are identical).
      case agg: BaseAggregateExec
          if (agg.isInstanceOf[HashAggregateExec] || agg.isInstanceOf[SortAggregateExec]) &&
            agg.groupingExpressions.isEmpty &&
            (agg.child.supportsColumnar || rowInputAggEnabled(session)) &&
            agg.aggregateExpressions.nonEmpty =>
        // GLOBAL FINAL merges are row by DESIGN, not a gap: above a
        // SinglePartition exchange the node reduces at most one buffer
        // row per map partition (≤ spark.sql.shuffle.partitions rows
        // total) — vectorizing a ≤32-row merge buys nothing at any
        // scale. Tag the real reason instead of letting compile()'s
        // "mode Final is not Partial" read as a coverage gap in the
        // census.
        if (agg.aggregateExpressions.forall(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Final)) {
          agg.setTagValue(fallbackReasonTag,
            "global final merge over ≤ #shuffle-partitions buffer rows — " +
              "row path by design (nothing to vectorize)")
          agg
        } else {
        // same computed-arg absorption as the grouped swap (q191 shape,
        // without keys): sum(price*(1-disc)) over the whole table
        val (rewrittenAes, base) = absorbAggArgs(agg.aggregateExpressions, agg.child)
        val ord: org.apache.spark.sql.catalyst.expressions.Expression => Int = {
          case a: AttributeReference => base.output.indexWhere(_.exprId == a.exprId)
          case _ => -1
        }
        val compiled = rewrittenAes.map(ae => GraftColumnarAgg.compile(ae, ord))
        compiled.collectFirst { case scala.Left(e) => e } match {
          case Some(reason) =>
            agg.setTagValue(fallbackReasonTag, reason); agg
          case None =>
            val specs = compiled.collect { case scala.Right(s) => s }
            val layoutOk =
              agg.resultExpressions.forall(_.isInstanceOf[Attribute]) &&
                specs.flatMap(GraftColumnarAgg.slotTypes) == agg.output.map(_.dataType)
            if (!agg.child.supportsColumnar &&
                !GraftColumnarAgg.paysForRowStaging(specs)) {
              // same row-staging economics as the grouped swap
              agg.setTagValue(fallbackReasonTag,
                "row-input partial agg without a decimal money lane — " +
                  "the RowToColumnar copy cannot pay for itself")
              agg
            } else if (layoutOk) GraftColumnarPartialAggExec(agg.output, specs, base)
            else {
              agg.setTagValue(fallbackReasonTag,
                "partial output is not a plain buffer-attribute row"); agg
            }
        }
        }
    }

    /** ABSORB computed aggregate ARGS: Spark evaluates function inputs
      * inline (PullOutGroupingExpressions covers keys only), so
      * sum(price * (1 - disc)) — the TPC-H Q1 money shape — would keep
      * the whole partial on the row path. Deterministic non-attribute
      * args that compile as projection kernels are aliased into a
      * GraftColumnarProjectExec below the agg and the functions are
      * rewritten onto the new attributes; everything else flows through
      * the attribute-only compiler unchanged. Callers fall back to the
      * ORIGINAL agg if the rewritten aggregation still fails a gate (no
      * stray project is inserted — the project exists only inside the
      * swapped plan).
      * A/B (FilterMicroBench grouped-agg-argabsorb, sf0.1, 3 runs of
      * min-of-5): 0.53-0.59x — the Decimal64/double kernels beat the
      * codegen'd row agg's inline arg evaluation on the money shape.
      */
    private def absorbAggArgs(
        aes: Seq[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression],
        base0: SparkPlan): (
        Seq[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression],
        SparkPlan) = {
      import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, If, Literal, NamedExpression}
      import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Count, Max, Min, Sum}
      val argAliases = scala.collection.mutable.LinkedHashMap[Expression, Alias]()
      def absorbable(e: Expression): Boolean =
        !e.isInstanceOf[AttributeReference] && !e.isInstanceOf[Literal] &&
          e.deterministic && ProjKernel.compile(e, base0.output).isRight
      // FILTER (WHERE f) on a null-IGNORING function is the CASE-gated
      // arg: agg(x) FILTER f == agg(IF(f, x, NULL)) — update fires for
      // exactly the filter-true rows, and the masked If kernel keeps the
      // row path's lazy error semantics for x. Rewrite only when the If
      // compiles (the alias map then absorbs it); otherwise keep the
      // original so the fallback reason stays honest. first/last are NOT
      // null-ignoring by default and stay out.
      val unfiltered = aes.map { ae =>
        // both rewrites are UPDATE-stage transformations: a PartialMerge
        // expression's filter is already ignored by merge semantics and
        // its children are pre-aggregation expressions the merge never
        // evaluates — leave non-Partial modes untouched
        if (ae.mode != org.apache.spark.sql.catalyst.expressions.aggregate.Partial ||
            ae.filter.isEmpty || ae.isDistinct || !ae.filter.get.deterministic) ae
        else {
          def gated(c: Expression) = If(ae.filter.get, c, Literal(null, c.dataType))
          val rewrittenAf = ae.aggregateFunction match {
            case f @ (_: Sum | _: Min | _: Max | _: Average)
                if f.children.forall(c =>
                  ProjKernel.compile(gated(c), base0.output).isRight) =>
              Some(f.withNewChildren(f.children.map(gated))
                .asInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction])
            case c: Count if c.children.size == 1 =>
              // count gates a non-null DOUBLE marker (CountSpec only
              // checks null, so the marker type is free — and it keeps
              // integral/string/any-typed count args out of the value
              // lanes): count(*) counts filter-true rows, count(x)
              // counts filter-true AND x-non-null rows.
              val pred = c.children.head match {
                case _: Literal => ae.filter.get
                case e => org.apache.spark.sql.catalyst.expressions.And(
                  ae.filter.get,
                  org.apache.spark.sql.catalyst.expressions.IsNotNull(e))
              }
              val arg = If(pred,
                Literal(1.0d), Literal(null, org.apache.spark.sql.types.DoubleType))
              if (ProjKernel.compile(arg, base0.output).isRight) Some(Count(Seq(arg)))
              else None
            case _ => None
          }
          rewrittenAf.map(f => ae.copy(aggregateFunction = f, filter = None)).getOrElse(ae)
        }
      }
      // multi-argument count: count(a, b) counts rows where EVERY arg
      // is non-null — rewrite to a single non-null marker column
      // (count(IF(a IS NOT NULL AND b IS NOT NULL, 1.0, NULL))) the
      // alias absorption below turns into one kernel column. Exactly
      // Count.updateExpressions' condition; distinct counts keep their
      // original children (distinctness is value-tuple-based).
      val multiCount = unfiltered.map { ae =>
        if (ae.mode != org.apache.spark.sql.catalyst.expressions.aggregate.Partial ||
            ae.isDistinct) ae
        else ae.aggregateFunction match {
          case c: org.apache.spark.sql.catalyst.expressions.aggregate.Count
              if c.children.size > 1 && c.children.forall(_.deterministic) =>
            val pred = c.children
              .map(ch => org.apache.spark.sql.catalyst.expressions.IsNotNull(ch)
                : org.apache.spark.sql.catalyst.expressions.Expression)
              .reduce(org.apache.spark.sql.catalyst.expressions.And(_, _))
            val arg = If(pred, Literal(1.0d),
              Literal(null, org.apache.spark.sql.types.DoubleType))
            if (ProjKernel.compile(arg, base0.output).isRight)
              ae.copy(aggregateFunction =
                org.apache.spark.sql.catalyst.expressions.aggregate.Count(Seq(arg)))
            else ae
          case _ => ae
        }
      }
      val rewritten = multiCount.map { ae =>
        if (ae.mode != org.apache.spark.sql.catalyst.expressions.aggregate.Partial) ae
        else {
        val af = ae.aggregateFunction
        val newChildren = af.children.map { c =>
          if (absorbable(c)) {
            val al = argAliases.getOrElseUpdate(c.canonicalized,
              Alias(c, s"_graftarg${argAliases.size}")())
            al.toAttribute
          } else c
        }
        if (newChildren == af.children) ae
        else ae.copy(aggregateFunction = af.withNewChildren(newChildren)
          .asInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction])
        }
      }
      val base: SparkPlan =
        if (argAliases.isEmpty) base0
        else GraftColumnarProjectExec(
          base0.output.map(a => a: NamedExpression) ++ argAliases.values, base0)
      (rewritten, base)
    }

    /** Frame → evaluation kind for the streaming window family (shared
      * by the catch-all WindowExec compile and the mixed-kind
      * splitter): 0 streams per row (ROWS running); 1 closes at the
      * peer group's end (RANGE running — the DEFAULT frame under ORDER
      * BY); 2 closes at the partition's end (the no-ORDER-BY default);
      * 3/4 are the SUFFIX frames (CURRENT ROW .. UNBOUNDED FOLLOWING,
      * ROWS/RANGE — block-combined O(n) where Spark's
      * UnboundedFollowingWindowFunctionFrame recomputes O(n^2)).
      */
    private def frameKind(
        f: org.apache.spark.sql.catalyst.expressions.WindowFrame): Option[Int] = {
      import org.apache.spark.sql.catalyst.expressions._
      f match {
        case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => Some(0)
        case SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow) => Some(1)
        case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) => Some(2)
        case SpecifiedWindowFrame(RowFrame, CurrentRow, UnboundedFollowing) => Some(3)
        case SpecifiedWindowFrame(RangeFrame, CurrentRow, UnboundedFollowing) => Some(4)
        case _ => None
      }
    }

    /** The EXCLUSIVE running frame (UNBOUNDED..1 PRECEDING — the
      * distributed-prefix-sum shape): kind 0, value closes one row
      * early (the previous row's accumulator snapshot). */
    private def isExclFrame(
        f: org.apache.spark.sql.catalyst.expressions.WindowFrame): Boolean = {
      import org.apache.spark.sql.catalyst.expressions._
      f match {
        case SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
          Literal(-1, org.apache.spark.sql.types.IntegerType)) => true
        case _ => false
      }
    }

    /** Finite ROWS frame (fn-13 slice specs in a MIXED node; a
      * pure-sliding node takes the GraftWindowSlidingExec case). */
    private def slideFrame(
        f: org.apache.spark.sql.catalyst.expressions.WindowFrame)
        : Option[(Long, Long)] = f match {
      case org.apache.spark.sql.catalyst.expressions.SpecifiedWindowFrame(
          org.apache.spark.sql.catalyst.expressions.RowFrame, loB, hiB) =>
        for { lo <- slideBound(loB); hi <- slideBound(hiB) } yield (lo, hi)
      case _ => None
    }

    /** Syntactic evaluation-group of one window expression for the
      * mixed-kind splitter — which homogeneous node family it would
      * land in, derived from the FRAME SHAPE and function class alone
      * (exactly what decides WinAggSpec.kind in the catch-all compile).
      * Type admission stays with the per-node compile: a split group
      * that then fails a type check keeps the row path for itself and
      * the merge-back pass re-fuses untaken neighbours, so a
      * misclassification can cost a planning round-trip but never a
      * wrong plan. Returns (kind, machine, sizeBased); machine marks
      * the offset-ring / sliding-slice / exclusive-prefix specs the
      * size-based buffered face refuses to mix with; kind 3 is the
      * classifier-only bucket for finite RANGE frames (the
      * GraftWindowRangeSlideExec family — `rangeOrderType` carries the
      * node's single attribute ORDER BY key type when one exists, so
      * bound conversion is checked up front). None = shape the engine
      * never compiles — the node keeps today's unsplit fallback.
      */
    private def winExprGroup(
        ne: org.apache.spark.sql.catalyst.expressions.NamedExpression,
        rangeOrderType: Option[org.apache.spark.sql.types.DataType])
        : Option[(Int, Boolean, Boolean)] = {
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.catalyst.expressions.aggregate._
      ne match {
        case Alias(WindowExpression(
            AggregateExpression(af, Complete, false, None, _),
            WindowSpecDefinition(_, _, frame)), _) =>
          val known = af match {
            case _: Sum | _: Count | _: Min | _: Max | _: Average |
                _: First | _: Last => true
            case _ => false
          }
          val noFirstLast = af match {
            case _: First | _: Last => false
            case _ => true
          }
          if (!known) None
          else if (isExclFrame(frame)) Some((0, true, false))
          else if (frameKind(frame).isDefined) Some((frameKind(frame).get, false, false))
          else if (slideFrame(frame).isDefined) {
            // first/last are not in the fn-13 slice set — a group
            // holding one could never compile, so don't split on it
            if (noFirstLast) Some((0, true, false)) else None
          }
          else frame match {
            // finite RANGE frame (rolling time/value window): its own
            // chain node for the GraftWindowRangeSlideExec case — the
            // time-series SELECT mixing a rolling 7-day avg with lag()
            // or a running total is the second most common mixed node.
            // 6 is a classifier-only bucket id (kinds 3/4 are the
            // suffix frames, already returned by frameKind above)
            case SpecifiedWindowFrame(RangeFrame, loB, hiB)
                if noFirstLast && rangeOrderType.exists(ot =>
                  rangeBound(loB, ot).isDefined && rangeBound(hiB, ot).isDefined) =>
              Some((6, false, false))
            case _ => None
          }
        case Alias(WindowExpression(f: FrameLessOffsetWindowFunction, _), _)
            if f.isInstanceOf[Lag] || f.isInstanceOf[Lead] =>
          Some((0, true, false))
        case Alias(WindowExpression(_: RowNumber, WindowSpecDefinition(_, _, frame)), _)
            if frameKind(frame).contains(0) => Some((0, false, false))
        case Alias(WindowExpression(_: Rank, WindowSpecDefinition(_, _, frame)), _)
            if frameKind(frame).contains(0) => Some((0, false, false))
        case Alias(WindowExpression(_: DenseRank, WindowSpecDefinition(_, _, frame)), _)
            if frameKind(frame).contains(0) => Some((0, false, false))
        case Alias(WindowExpression(_: NTile, WindowSpecDefinition(_, _, frame)), _)
            if frameKind(frame).contains(0) => Some((0, false, true))
        case Alias(WindowExpression(_: PercentRank, WindowSpecDefinition(_, _, frame)), _)
            if frameKind(frame).contains(0) => Some((0, false, true))
        case Alias(WindowExpression(_: CumeDist, WindowSpecDefinition(_, _, frame)), _)
            if frameKind(frame).contains(1) => Some((1, false, true))
        case Alias(WindowExpression(_: NthValue, WindowSpecDefinition(_, _, frame)), _)
            if frameKind(frame).isDefined =>
          Some((frameKind(frame).get, false, false))
        case _ => None
      }
    }

    /** Spark groups EVERY window expression sharing one (PARTITION BY,
      * ORDER BY) spec into a single WindowExec, so `row_number() OVER w`
      * next to `sum(x) OVER w` (whose DEFAULT frame under ORDER BY is
      * the RANGE running frame — a deferred peer-close kind) is ONE node
      * no homogeneous streaming exec can take whole: before this pass,
      * the engine's most common window fallback. Split such a node into
      * a CHAIN of per-kind WindowExecs over the same child — every node
      * in the chain emits rows in input order, so the one sort below
      * feeds the whole chain with no extra exchange or sort — plus an
      * attribute-only Project restoring the original column order. The
      * swap pass then takes each homogeneous node independently (a pure
      * lag/lead group lands on GraftWindowOffsetExec, a pure finite-ROWS
      * group on GraftWindowSlidingExec, running/deferred groups on
      * GraftColumnarWindowExec), and the merge-back pass re-fuses
      * adjacent nodes left unswapped, so the degenerate outcome is never
      * worse than today's single row WindowExec. A size-based group sits
      * at the BOTTOM, on the sort that counts its partitions; the other
      * buffering kinds follow where rows are narrowest; the streaming
      * kind-0 group tops it. (Reference analogue: CometWindowExec
      * serializes whole window nodes and falls back on any unsupported
      * expression — `spark/sql/comet/CometWindowExec.scala`; splitting
      * is the Spark-side answer because chained WindowExecs compose for
      * free on one sort.)
      *
      * A/B (FilterMicroBench winmix-kinds, sf0.1, 5 runs of min-of-5):
      * running sum + row_number + lag beside two default-RANGE aggs
      * 0.89-0.99x (median 0.95x; one loaded-box run 1.20x) — parity to
      * win locally, and the split moves the streaming group from the
      * row exec's whole-partition buffer to O(1) accumulators, so the
      * memory win compounds with partition skew at scale.
      */
    private def splitMixedWindow(
        w: org.apache.spark.sql.execution.window.WindowExec): Option[SparkPlan] = {
      if (w.partitionSpec.isEmpty || w.windowExpression.size < 2) return None
      // unsupported partition keys fail EVERY split node the same way —
      // skip the chain and keep the single row node
      val partOk = w.partitionSpec.forall {
        case a: AttributeReference =>
          w.child.output.exists(_.exprId == a.exprId) &&
            org.apache.spark.sql.execution.graft.GraftColumnarWindowExec
              .supportedPartType(a.dataType)
        case _ => false
      }
      if (!partOk) return None
      // a single supported attribute ORDER BY key admits finite-RANGE
      // groups (the GraftWindowRangeSlideExec shape)
      val rangeOrderType = w.orderSpec match {
        case scala.Seq(so) => so.child match {
          case a: AttributeReference if w.child.output.exists(_.exprId == a.exprId) =>
            a.dataType match {
              case org.apache.spark.sql.types.ByteType |
                  org.apache.spark.sql.types.ShortType |
                  org.apache.spark.sql.types.IntegerType |
                  org.apache.spark.sql.types.LongType |
                  org.apache.spark.sql.types.DateType |
                  org.apache.spark.sql.types.TimestampType |
                  org.apache.spark.sql.types.TimestampNTZType |
                  org.apache.spark.sql.types.DoubleType => Some(a.dataType)
              case _ => None
            }
          case _ => None
        }
        case _ => None
      }
      val classed = w.windowExpression.map(e =>
        winExprGroup(e, rangeOrderType).map(g => (e, g)))
      if (classed.exists(_.isEmpty)) return None
      val es = classed.flatten
      // kind-0 splits size-based functions apart from the offset/
      // sliding/exclusive machines only when both are present (the one
      // kind-0 mix the partition-buffered face refuses); plain
      // streaming specs stay with the machines — the streaming face is
      // the cheaper home
      val k0SizeApart = es.exists { case (_, (k, _, size)) => k == 0 && size } &&
        es.exists { case (_, (k, m, _)) => k == 0 && m }
      def gid(g: (Int, Boolean, Boolean)): Int = g match {
        case (6, _, _) => 5 // finite RANGE — the value-bounded ring exec
        case (3, _, _) | (4, _, _) => 4 // suffix frames share one face
        case (2, _, _) => 3
        case (1, _, _) => 2
        case (_, _, size) => if (k0SizeApart && size) 1 else 0
      }
      val groups = es.groupBy { case (_, g) => gid(g) }
      if (groups.size < 2) return None
      var cur: SparkPlan = w.child
      // a size-based group sits directly on the sort, which counts its
      // partitions (GraftGroupedSortExec); the rest by descending gid
      groups.toSeq.sortBy { case (g, ges) => (!ges.exists(_._2._3), -g) }.foreach { case (_, ges) =>
        val nw = org.apache.spark.sql.execution.window.WindowExec(
          ges.map(_._1), w.partitionSpec, w.orderSpec, cur)
        nw.setTagValue(splitWindowTag, ())
        cur = nw
      }
      Some(ProjectExec(w.output, cur))
    }

    /** Finite row offset of a ROWS-frame bound: CurrentRow is 0,
      * literal ints/longs are themselves, unbounded ends are None. */
    private def slideBound(
        e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Long] = e match {
      case org.apache.spark.sql.catalyst.expressions.CurrentRow => Some(0L)
      case org.apache.spark.sql.catalyst.expressions.Literal(i: Int,
        org.apache.spark.sql.types.IntegerType) => Some(i.toLong)
      case org.apache.spark.sql.catalyst.expressions.Literal(l: Long,
        org.apache.spark.sql.types.LongType) => Some(l)
      case _ => None
    }

    /** Finite RANGE-frame bound as an ORDER-BY-value delta (order-key
      * units: days for dates, micros for timestamps, the value itself
      * for integrals). CurrentRow is 0; literal ints/longs pair with
      * numeric keys; day-time interval and pure calendar-interval
      * literals pair with date/timestamp keys where the arithmetic is
      * exact (no months; no day component on timestamps — that
      * addition is timezone-dependent on the row path). Unbounded ends
      * and anything else are None.
      */
    private def rangeBound(
        e: org.apache.spark.sql.catalyst.expressions.Expression,
        orderType: org.apache.spark.sql.types.DataType): Option[Long] = {
      import org.apache.spark.sql.types._
      val microsPerDay = 86400L * 1000000L
      e match {
        case org.apache.spark.sql.catalyst.expressions.CurrentRow => Some(0L)
        case org.apache.spark.sql.catalyst.expressions.Literal(v, dt) =>
          (orderType, dt, v) match {
            case (ByteType | ShortType | IntegerType | LongType, IntegerType, i: Int) =>
              Some(i.toLong)
            case (ByteType | ShortType | IntegerType | LongType, LongType, l: Long) =>
              Some(l)
            case (DateType, _: DayTimeIntervalType, us: Long)
                if us % microsPerDay == 0 =>
              Some(us / microsPerDay)
            case (DateType, CalendarIntervalType,
                c: org.apache.spark.unsafe.types.CalendarInterval)
                if c.months == 0 && c.microseconds == 0 =>
              Some(c.days.toLong)
            case (TimestampType | TimestampNTZType, _: DayTimeIntervalType, us: Long) =>
              Some(us)
            case (TimestampType | TimestampNTZType, CalendarIntervalType,
                c: org.apache.spark.unsafe.types.CalendarInterval)
                if c.months == 0 && c.days == 0 =>
              Some(c.microseconds)
            // DOUBLE order keys: the bound travels as raw double bits
            // (the exec decodes; CurrentRow's 0L IS doubleToLongBits(0.0))
            case (DoubleType, DoubleType, d: Double) =>
              Some(java.lang.Double.doubleToLongBits(d))
            case (DoubleType, IntegerType, i: Int) =>
              Some(java.lang.Double.doubleToLongBits(i.toDouble))
            case (DoubleType, LongType, l: Long) =>
              Some(java.lang.Double.doubleToLongBits(l.toDouble))
            case _ => None
          }
        case _ => None
      }
    }

    /** Shared grouped-partial swap body for the direct HashAggregate
      * match and the exchange-gated SortAggregate absorption. Returns
      * the columnar kernel over `base`, or `agg` itself (tagged with
      * the fallback reason) when any key/function/layout check fails.
      */
    private def swapGroupedPartial(
        agg: org.apache.spark.sql.execution.aggregate.BaseAggregateExec,
        base0: SparkPlan): SparkPlan = {
      // computed-arg absorption (see absorbAggArgs): sum(price*(1-disc))
      // swaps via a kernel Project synthesized below the agg
      val (rewrittenAes, base) = absorbAggArgs(agg.aggregateExpressions, base0)
      val ord: org.apache.spark.sql.catalyst.expressions.Expression => Int = {
        case a: AttributeReference => base.output.indexWhere(_.exprId == a.exprId)
        case _ => -1
      }
      val keySpecs = agg.groupingExpressions.map {
        case a: AttributeReference
            if ord(a) >= 0 && GraftColumnarGroupedAggExec.supportedKeyTypes(a.dataType) =>
          scala.Right(GroupKeySpec(ord(a), a.dataType))
        // The first partial of a float-keyed distinct/group plan wraps
        // the key in NormalizeFloatingNumbers' marker pair. The kernel's
        // double-key getter normalizes identically (canonical NaN,
        // -0.0 -> 0.0), so the wrapped key compiles to a plain
        // double-key read of the underlying column; the group emits the
        // normalized value under the alias's attribute.
        case al @ Alias(
            org.apache.spark.sql.catalyst.expressions.KnownFloatingPointNormalized(
              org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero(
                a: AttributeReference)), _)
            if ord(a) >= 0 &&
              a.dataType == org.apache.spark.sql.types.DoubleType =>
          scala.Right(GroupKeySpec(ord(a), org.apache.spark.sql.types.DoubleType))
        case other => scala.Left(s"unsupported grouping key: $other (${other.dataType})")
      }
      // MIXED-mode nodes (Spark plans merge_xxx alongside the distinct
      // partial): Partial entries compile against raw inputs, the
      // PartialMerge entries against their buffer columns in the same
      // child output — the exec reads each kind through the matching
      // accumulate variant.
      val bufOrd: Attribute => Int =
        a => base.output.indexWhere(_.exprId == a.exprId)
      val compiled = rewrittenAes.map { ae =>
        if (ae.mode == org.apache.spark.sql.catalyst.expressions.aggregate.PartialMerge)
          GraftColumnarAgg.compileMerge(ae, bufOrd).flatMap { sp =>
            if (GraftColumnarAgg.mixedMergeSupported(sp)) scala.Right(sp)
            else scala.Left(
              "merge-input spec without a columnar merge variant (moments family)")
          }
        else GraftColumnarAgg.compile(ae, ord)
      }
      val mergeIdxSet = rewrittenAes.zipWithIndex.collect {
        case (ae, i) if ae.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.PartialMerge => i
      }.toSet
      (keySpecs ++ compiled).collectFirst { case scala.Left(e) => e } match {
        case Some(reason) =>
          agg.setTagValue(fallbackReasonTag, reason); agg
        case None =>
          val ks = keySpecs.collect { case scala.Right(k) => k }
          val specs = compiled.collect { case scala.Right(s) => s }
          if (!base0.supportsColumnar && !GraftColumnarAgg.paysForRowStaging(specs)) {
            // a ROW child means a RowToColumnarExec copy below the
            // kernel — only the decimal money lanes beat the fused
            // codegen agg by more than that copy costs (see
            // rowInputAggEnabledKey); count/min/max shapes stay fused
            agg.setTagValue(fallbackReasonTag,
              "row-input partial agg without a decimal money lane — " +
                "the RowToColumnar copy cannot pay for itself")
            return agg
          }
          // exprId-exact key prefix: same-typed keys can legally be
          // REORDERED in resultExpressions (e.g. a keys-only distinct
          // under a projection) — a type-only check would emit the
          // kernel's grouping order under the wrong output attributes
          val keyIds = agg.groupingExpressions.collect {
            case a: AttributeReference => a.exprId
            case al: Alias => al.exprId } // normalized-double key wrapper
          val layoutOk =
            agg.resultExpressions.forall(_.isInstanceOf[Attribute]) &&
              agg.resultExpressions.take(keyIds.size).collect {
                case a: Attribute => a.exprId } == keyIds &&
              (agg.groupingExpressions.map(_.dataType) ++
                specs.flatMap(GraftColumnarAgg.slotTypes)) == agg.output.map(_.dataType)
          // keys-only nodes (distinct stages, any level): the result
          // expressions may PRUNE, REORDER, or ALIAS the grouping keys —
          // Spark merges the downstream projection into a re-dedup
          // above an already-distinct child (the dedup-pipeline
          // `.distinct().select(a, b AS c)` shape). The kernel groups on
          // the FULL key tuple and emits only the mapped columns.
          lazy val keyOutOpt: Option[Seq[Int]] =
            // nonEmpty: an ALL-pruned output (bare count over a
            // distinct) would be indistinguishable from the exec's
            // Nil = natural-layout sentinel — that zero-column shape
            // stays row
            if (specs.nonEmpty || agg.resultExpressions.isEmpty ||
              !keyMappedAggEnabled(session)) None
            else {
              val mapped = agg.resultExpressions.map {
                case a: Attribute => keyIds.indexOf(a.exprId)
                case Alias(ar: AttributeReference, _) => keyIds.indexOf(ar.exprId)
                case _ => -1
              }
              if (mapped.forall(_ >= 0)) Some(mapped) else None
            }
          val maxGroups = session.conf
            .getOption(GraftColumnarGroupedAggExec.maxGroupsKey)
            .map(_.toInt).getOrElse(GraftColumnarGroupedAggExec.defaultMaxGroups)
          if (layoutOk) {
            GraftColumnarGroupedAggExec(agg.output, ks, specs, base, maxGroups,
              mergeIdxSet)
          } else if (keyOutOpt.isDefined) {
            GraftColumnarGroupedAggExec(agg.output, ks, specs, base, maxGroups,
              mergeIdxSet, keyOutOpt.get)
          } else {
            agg.setTagValue(fallbackReasonTag,
              "partial output is not keys ++ plain buffer attributes"); agg
          }
      }
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

  /** Kill switch, mirroring the reference's per-operator enable flags
    * (spark.comet.exec.*.enabled): set false to keep every candidate on
    * the row path. Read per-plan so it can be toggled mid-session.
    */
  val enabledKey = "spark.graft.columnar.enabled"
  def enabled(session: SparkSession): Boolean =
    session.conf.getOption(enabledKey).forall(_.toBoolean)

  /** Columnar window aggregation over running ROWS frames — default ON
    * (streaming accumulators over the columnar sort's batches replace
    * the row WindowExec's whole-group buffering; A/B in
    * GraftColumnarWindowExec's scaladoc). */
  val windowAggEnabledKey = "spark.graft.columnar.window.enabled"
  def windowAggEnabled(session: SparkSession): Boolean =
    session.conf.getOption(windowAggEnabledKey).forall(_.toBoolean)

  /** Accept a ROW-based child for the partial aggregation swaps (the
    * transitions rule then inserts Spark's RowToColumnarExec below the
    * kernel): the TPC-H join→aggregate shape, where the partial agg's
    * input is a codegen join stage. The row→batch copy plus the broken
    * join↔agg codegen fusion trades against the int128/Decimal64
    * kernels' win over per-row BigDecimal math — default ON on
    * measured win-or-parity. A/B (sf0.1, local[8], interleaved
    * min-of-9 on/off): TPC-H Q8 0.98×, Q14 0.94×, Q5 0.97×, Q9 1.01×.
    */
  val rowInputAggEnabledKey = "spark.graft.columnar.agg.rowInput.enabled"
  def rowInputAggEnabled(session: SparkSession): Boolean =
    session.conf.getOption(rowInputAggEnabledKey).forall(_.toBoolean)

  /** Key-mapped keys-only aggregate swap (the r15 21bae97 widening:
    * keys-only aggregates whose result expressions prune/reorder/alias
    * the grouping keys — the re-dedup Spark leaves above a reused
    * distinct stage in dedup pipelines). Default ON; gated so the
    * r16 interleaved same-JVM A/B ordered by the r15 verdict (q156/q92
    * sweep regression suspect) could isolate it. The A/B EXONERATED the
    * swap as the regression cause: q156 min 1.04 s on vs 1.12 s off,
    * q92 0.93 vs 0.92, q116 0.60 vs 0.58, q47 1.71–1.81 on vs
    * 1.55–1.68 off (the one shape that leans off, within overlap).
    * Net a wash — the r15 sweep readings were box noise; default stays
    * ON for the wider columnar pipeline coverage.
    */
  val keyMappedAggEnabledKey = "spark.graft.columnar.agg.keyMapped.enabled"
  def keyMappedAggEnabled(session: SparkSession): Boolean =
    session.conf.getOption(keyMappedAggEnabledKey).forall(_.toBoolean)

  /** Grouped FINAL-mode columnar aggregation — default ON (A/B showed
    * parity: the final stage merges #groups × #map-partitions buffer
    * rows, far off the scan's hot path; set false to keep the row
    * final HashAggregate).
    */
  val finalAggEnabledKey = "spark.graft.columnar.finalAgg.enabled"
  def finalAggEnabled(session: SparkSession): Boolean =
    session.conf.getOption(finalAggEnabledKey).forall(_.toBoolean)

  /** Columnar SEMI/ANTI broadcast-join probe — unlike an inner probe
    * (a measured loss; inner and existence broadcast joins stay on
    * Spark's BHJ), the semi/anti probe has no build-side
    * materialization AND reduces rows at the probe; its A/B won, so it
    * defaults ON (see README).
    */
  val semiBhjEnabledKey = "spark.graft.columnar.semibhj.enabled"
  def semiBhjEnabled(session: SparkSession): Boolean =
    session.conf.getOption(semiBhjEnabledKey).forall(_.toBoolean)

  /** Columnar partial WindowGroupLimit — default ON (A/B at sf0.1:
    * 0.18x-0.96x across group cardinalities, see the exec's scaladoc):
    * the probe replaces a full map-side sort with bounded per-group
    * heaps (set false to keep Sort + the row WindowGroupLimit).
    * `maxGroups` bounds live heap memory; overflow drains candidates and
    * passes the rest through zero-copy (always correct under the
    * exchange the rule requires).
    */
  val wglEnabledKey = "spark.graft.columnar.wgl.enabled"
  def wglEnabled(session: SparkSession): Boolean =
    session.conf.getOption(wglEnabledKey).forall(_.toBoolean)
  val wglMaxGroupsKey = "spark.graft.columnar.wgl.maxGroups"
  val wglDefaultMaxGroups = 65536

  /** Columnar SEMI/ANTI shuffled hash join — fires only when the stream
    * side is pre-partitioned (bucketed layout, no exchange below it), so
    * the probe reads scan batches in place; see
    * GraftColumnarShuffledSemiJoinExec's scaladoc for the measured A/B
    * behind the default.
    */
  val shjEnabledKey = "spark.graft.columnar.shj.enabled"
  def shjEnabled(session: SparkSession): Boolean =
    session.conf.getOption(shjEnabledKey).forall(_.toBoolean)

  /** Columnar INNER shuffled hash join — default ON after a winning A/B
    * (median ~0.84x across ten session runs, 0.74-0.93x typical; see
    * GraftColumnarShuffledInnerJoinExec's scaladoc). Unlike a
    * broadcast inner probe (measured 1.65x LOSS), the co-located-stream
    * SHJ's row twin is not a fused scan pipeline — it already pays
    * ColumnarToRow on every stream row plus the same per-task relation
    * build — so the zero-copy stream gathers win here.
    */
  val innerShjEnabledKey = "spark.graft.columnar.shj.inner.enabled"
  def innerShjEnabled(session: SparkSession): Boolean =
    session.conf.getOption(innerShjEnabledKey).forall(_.toBoolean)

  /** Columnar per-partition sort over a columnar block — OPT-IN in
    * general (default off): the A/B (FilterMicroBench sf0.1, after the
    * concatenated-byte-buffer string rework) still loses on wide rows
    * (16-col 1.38-1.40x) and slightly on string keys (1.15-1.21x) —
    * the residual cost is buffering every output column, which the
    * reference escapes natively (arena + SIMD), not the sort loop.
    * Correct, parity-tested, demonstrated (q164 opts in on a cloned
    * session).
    */
  val sortEnabledKey = "spark.graft.columnar.sort.enabled"
  def sortEnabled(session: SparkSession): Boolean =
    session.conf.getOption(sortEnabledKey).exists(_.toBoolean)

  /** NARROW all-numeric sorts (<= 4 output columns, no strings) swap by
    * DEFAULT: with so little to buffer, the radix path beats Tungsten's
    * row sort — A/B medians 0.55-0.87x across 1-4 column numeric shapes
    * (sort-narrow-1col 0.71-0.77x, -3col 0.64-0.87x, -4col-2key
    * 0.55-0.57x; 3 session runs, FilterMicroBench sf0.1). The win case
    * is the common sorted-export / pre-bucketing projection; anything
    * wider or stringed still requires the explicit opt-in above.
    */
  val narrowSortEnabledKey = "spark.graft.columnar.sort.narrow.enabled"
  def narrowSortEnabled(session: SparkSession): Boolean =
    session.conf.getOption(narrowSortEnabledKey).forall(_.toBoolean)

  /** Columnar top-k — default ON: the A/B (FilterMicroBench, sf0.1)
    * measured the bounded-heap probe ~2x FASTER than the row
    * TakeOrderedAndProject over a columnar child (ratios 0.45-0.58 for
    * k=10/1000/filtered): a losing row costs one vector read instead of
    * a full ColumnarToRow materialization. Set false to keep the row
    * operator.
    */
  val topkEnabledKey = "spark.graft.columnar.topk.enabled"
  def topkEnabled(session: SparkSession): Boolean =
    session.conf.getOption(topkEnabledKey).forall(_.toBoolean)

  /** Columnar Expand — default ON (A/B at parity-or-better: the swap
    * replaces P projections × R rows of per-row copying with P × C
    * zero-copy column references, and keeps the Expand → partial
    * grouped agg pipeline on ColumnarBatch end to end).
    */
  val expandEnabledKey = "spark.graft.columnar.expand.enabled"
  def expandEnabled(session: SparkSession): Boolean =
    session.conf.getOption(expandEnabledKey).forall(_.toBoolean)
}
