package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Expression, If, IsNotNull, KnownFloatingPointNormalized, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Count, Final, Max, Min, Partial, PartialMerge, Sum}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.graft.{GraftColumnarFinalAggExec, GraftColumnarSortExec}
import org.apache.spark.sql.types.DoubleType

/** Swaps of the aggregates: the grouped final and partial-merge
  * stages over shuffled rows, the grouped partial over a columnar (or
  * staged row) child, the map-side SortAggregate it absorbs, and the
  * global partial. The HashAggregate cases run in that order: the
  * grouped-partial guard also matches Final-mode nodes the cases above
  * it declined. */
object GraftAggSwaps {
  import GraftColumnarRule._

  def apply(session: SparkSession): PartialFunction[SparkPlan, SparkPlan] = {
    // Grouped FINAL aggregation: merge the shuffled partial-buffer
    // rows columnar and emit finalized vectors. Child is the exchange
    // (row stream) — the operator reads rows, so no RowToColumnar
    // materialization sneaks in. Swaps only when every grouping key /
    // function / result expression is the plain shape the kernel
    // reproduces exactly. Empty aggregateExpressions = a DISTINCT's
    // final stage: the merge dedups the shuffled key rows and emits key
    // vectors.
    case agg: HashAggregateExec
        if agg.groupingExpressions.nonEmpty && !agg.child.supportsColumnar &&
          agg.aggregateExpressions.forall(_.mode == Final) &&
          flag(session, finalAggEnabledKey) =>
      val compiled = for {
        ks <- groupKeys(agg.groupingExpressions, agg.child)
        specs <- allRight(agg.aggregateExpressions.map(ae =>
          GraftColumnarAgg.compileFinal(ae, ordinal(agg.child, _))))
      } yield (ks, specs)
      compiled match {
        case Left(reason) => declined(agg, reason)
        case Right((ks, specs)) =>
          val keyAttrs = agg.groupingExpressions.collect { case a: AttributeReference => a }
          // the exec's planner-provided attributes, NOT
          // ae.resultAttribute: planAggregateWithOneDistinct rebinds a
          // distinct final's downstream references to fresh attributes
          // that only the exec field carries (they coincide for plain
          // finals).
          val aggResults = agg.aggregateAttributes
          if (!aggResults.zip(specs).forall { case (a, s) => a.dataType == GraftColumnarAgg.finalType(s) })
            declined(agg, "final aggregate result types differ from the kernel's")
          else {
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
              val s = aggIds.indexOf(a.exprId)
              if (k >= 0) Some(Left(k)) else if (s >= 0) Some(Right(s)) else None
            }
            val mapped = agg.resultExpressions.map {
              case a: AttributeReference => src(a)
              case Alias(a: AttributeReference, _) => src(a)
              case _ => None
            }
            if (mapped.forall(_.isDefined))
              GraftColumnarFinalAggExec(agg.output, ks, specs, mapped.flatten, agg.child)
            else
              ProjectExec(agg.resultExpressions, GraftColumnarFinalAggExec(
                keyAttrs ++ aggResults, ks, specs,
                keyAttrs.indices.map(Left(_)) ++ specs.indices.map(Right(_)), agg.child))
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
          agg.aggregateExpressions.forall(_.mode == PartialMerge) &&
          flag(session, finalAggEnabledKey) =>
      val compiled = for {
        ks <- groupKeys(agg.groupingExpressions, agg.child)
        specs <- allRight(agg.aggregateExpressions.map(ae =>
          GraftColumnarAgg.compileMerge(ae, ordinal(agg.child, _)).filterOrElse(
            GraftColumnarAgg.bufferReEmittable,
            "merge state of the moments family cannot re-emit the partial buffer layout")))
      } yield (ks, specs)
      compiled match {
        case Left(reason) => declined(agg, reason)
        case Right((ks, specs)) =>
          if (keysThenBuffers(agg, specs))
            GraftColumnarFinalAggExec(agg.output, ks, specs, Nil, agg.child, emitBuffers = true)
          else declined(agg, "partial-merge output is not keys ++ plain buffer attributes")
      }

    // Grouped partial aggregation: attribute-only keys of long-family/
    // string types, compilable functions, plain buffer layout.
    // Memory-bounded by maxGroups (early flush of partial rows — the
    // final merge dedups). HashAggregate swaps over its child directly
    // (a row child stages through RowToColumnarExec when a decimal money
    // lane pays for the copy — see GraftColumnarAgg.paysForRowStaging);
    // a partial SortAggregate (string/immutable buffer types —
    // min/max/first/last over strings) sits on a map-side Sort the hash
    // kernel does not need, so the swap absorbs BOTH nodes (the
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
    case agg: HashAggregateExec if agg.groupingExpressions.nonEmpty =>
      swapGroupedPartial(session, agg, agg.child)

    // Partial SortAggregate absorption is matched ON THE EXCHANGE (the
    // WindowGroupLimit pattern), never on the bare node:
    // SortAggregateExec's outputOrdering (grouping keys) can satisfy a
    // downstream requiredChildOrdering when NO shuffle intervenes
    // (group-by on a bucketed table's sorted bucket column, a
    // single-partition plan) — EnsureRequirements has already run, so
    // swapping in the hash kernel (outputOrdering = Nil) there would
    // feed the final SortAggregate unsorted rows and silently produce
    // duplicate groups. Under a shuffle the map-side ordering is
    // destroyed anyway, so absorbing Sort + SortAggregate is safe.
    case ex: ShuffleExchangeExec
        if ex.child.isInstanceOf[SortAggregateExec] &&
          ex.child.asInstanceOf[SortAggregateExec].groupingExpressions.nonEmpty =>
      val agg = ex.child.asInstanceOf[SortAggregateExec]
      val base = agg.child match {
        case st: SortExec if !st.global && st.child.supportsColumnar => Some(st.child)
        // transformUp may already have swapped the map-side sort
        // for the columnar kernel — absorb it too
        case gs: GraftColumnarSortExec if !gs.global => Some(gs.child)
        case _ => None
      }
      base.map(swapGroupedPartial(session, agg, _))
        .filterNot(_ eq agg).fold[SparkPlan](ex)(s => ex.withNewChildren(Seq(s)))

    // Global partial aggregation: both HashAggregate and SortAggregate
    // (the planner picks Sort when a buffer type — string, timestamp —
    // is not UnsafeRow-mutable; without grouping keys the partial
    // semantics are identical).
    case agg: BaseAggregateExec
        if (agg.isInstanceOf[HashAggregateExec] || agg.isInstanceOf[SortAggregateExec]) &&
          agg.groupingExpressions.isEmpty && agg.aggregateExpressions.nonEmpty =>
      // GLOBAL FINAL merges are row by DESIGN, not a gap: above a
      // SinglePartition exchange the node reduces at most one buffer
      // row per map partition (≤ spark.sql.shuffle.partitions rows
      // total) — vectorizing a ≤32-row merge buys nothing at any
      // scale. Tag the real reason instead of letting compile()'s
      // "mode Final is not Partial" read as a coverage gap in the
      // census.
      if (agg.aggregateExpressions.forall(_.mode == Final))
        declined(agg, "global final merge over ≤ #shuffle-partitions buffer rows — " +
          "row path by design (nothing to vectorize)")
      else {
        // same computed-arg absorption as the grouped swap (q191 shape,
        // without keys): sum(price*(1-disc)) over the whole table
        val (rewrittenAes, base) = absorbAggArgs(agg.aggregateExpressions, agg.child)
        allRight(rewrittenAes.map(ae => GraftColumnarAgg.compile(ae, ordinal(base, _)))) match {
          case Left(reason) => declined(agg, reason)
          case Right(specs) =>
            if (!agg.child.supportsColumnar && !GraftColumnarAgg.paysForRowStaging(specs))
              // same row-staging economics as the grouped swap
              declined(agg, rowStagingReason)
            else if (agg.resultExpressions.forall(_.isInstanceOf[Attribute]) &&
                specs.flatMap(GraftColumnarAgg.slotTypes) == agg.output.map(_.dataType))
              GraftColumnarPartialAggExec(agg.output, specs, base)
            else declined(agg, "partial output is not a plain buffer-attribute row")
        }
      }
  }

  private val rowStagingReason =
    "row-input partial agg without a decimal money lane — " +
      "the RowToColumnar copy cannot pay for itself"

  /** Plain attribute grouping keys of the kernels' key types. */
  private def groupKeys(keys: Seq[Expression], child: SparkPlan): Either[String, Seq[GroupKeySpec]] =
    allRight(keys.map(groupKey(_, child)))

  private def groupKey(e: Expression, child: SparkPlan): Either[String, GroupKeySpec] = e match {
    case a: AttributeReference
        if ordinal(child, a) >= 0 && GraftColumnarGroupedAggExec.supportedKeyTypes(a.dataType) =>
      Right(GroupKeySpec(ordinal(child, a), a.dataType))
    case other => Left(s"unsupported grouping key: $other (${other.dataType})")
  }

  /** The output is the grouping keys, in order and by exprId (same-typed
    * keys can legally be REORDERED in resultExpressions — e.g. a
    * keys-only distinct under a projection — so a type-only check would
    * emit the kernel's grouping order under the wrong output
    * attributes), followed by the plain buffer slots of `specs`. */
  private def keysThenBuffers(agg: BaseAggregateExec, specs: Seq[AggSpec]): Boolean = {
    val keyIds = agg.groupingExpressions.collect {
      case a: AttributeReference => a.exprId
      case al: Alias => al.exprId // normalized-double key wrapper
    }
    agg.resultExpressions.forall(_.isInstanceOf[Attribute]) &&
      agg.resultExpressions.take(keyIds.size).collect { case a: Attribute => a.exprId } == keyIds &&
      (agg.groupingExpressions.map(_.dataType) ++ specs.flatMap(GraftColumnarAgg.slotTypes)) ==
        agg.output.map(_.dataType)
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
  private def absorbAggArgs(aes: Seq[AggregateExpression],
      base0: SparkPlan): (Seq[AggregateExpression], SparkPlan) = {
    val argAliases = scala.collection.mutable.LinkedHashMap[Expression, Alias]()
    def compiles(e: Expression): Boolean = ProjKernel.compile(e, base0.output).isRight
    def absorbable(e: Expression): Boolean =
      !e.isInstanceOf[AttributeReference] && !e.isInstanceOf[Literal] &&
        e.deterministic && compiles(e)
    // count(pred) as a non-null DOUBLE marker: CountSpec only checks
    // null, so the marker type is free — and it keeps
    // integral/string/any-typed count args out of the value lanes
    def countOf(pred: Expression): Option[AggregateFunction] = {
      val arg = If(pred, Literal(1.0d), Literal(null, DoubleType))
      if (compiles(arg)) Some(Count(Seq(arg))) else None
    }
    // both rewrites below are UPDATE-stage transformations: a
    // PartialMerge expression's filter is already ignored by merge
    // semantics and its children are pre-aggregation expressions the
    // merge never evaluates — leave non-Partial modes untouched
    val rewritten = aes.map { ae0 =>
      if (ae0.mode != Partial) ae0
      else {
        // FILTER (WHERE f) on a null-IGNORING function is the CASE-gated
        // arg: agg(x) FILTER f == agg(IF(f, x, NULL)) — update fires for
        // exactly the filter-true rows, and the masked If kernel keeps the
        // row path's lazy error semantics for x. Rewrite only when the If
        // compiles (the alias map then absorbs it); otherwise keep the
        // original so the fallback reason stays honest. first/last are NOT
        // null-ignoring by default and stay out. count(*) counts
        // filter-true rows, count(x) filter-true AND x-non-null rows.
        val unfiltered =
          if (ae0.filter.isEmpty || ae0.isDistinct || !ae0.filter.get.deterministic) ae0
          else {
            val f = ae0.filter.get
            def gated(c: Expression) = If(f, c, Literal(null, c.dataType))
            (ae0.aggregateFunction match {
              case af @ (_: Sum | _: Min | _: Max | _: Average)
                  if af.children.forall(c => compiles(gated(c))) =>
                Some(af.withNewChildren(af.children.map(gated)).asInstanceOf[AggregateFunction])
              case c: Count if c.children.size == 1 =>
                countOf(c.children.head match {
                  case _: Literal => f
                  case e => And(f, IsNotNull(e))
                })
              case _ => None
            }).map(af => ae0.copy(aggregateFunction = af, filter = None)).getOrElse(ae0)
          }
        // multi-argument count: count(a, b) counts rows where EVERY arg
        // is non-null — rewrite to a single non-null marker column the
        // alias absorption below turns into one kernel column. Exactly
        // Count.updateExpressions' condition; distinct counts keep their
        // original children (distinctness is value-tuple-based).
        val ae = unfiltered.aggregateFunction match {
          case c: Count if !unfiltered.isDistinct && c.children.size > 1 &&
              c.children.forall(_.deterministic) =>
            countOf(c.children.map(ch => IsNotNull(ch): Expression).reduce(And(_, _)))
              .map(af => unfiltered.copy(aggregateFunction = af)).getOrElse(unfiltered)
          case _ => unfiltered
        }
        val af = ae.aggregateFunction
        val newChildren = af.children.map { c =>
          if (absorbable(c))
            argAliases.getOrElseUpdate(c.canonicalized,
              Alias(c, s"_graftarg${argAliases.size}")()).toAttribute
          else c
        }
        if (newChildren == af.children) ae
        else ae.copy(aggregateFunction = af.withNewChildren(newChildren).asInstanceOf[AggregateFunction])
      }
    }
    val base: SparkPlan =
      if (argAliases.isEmpty) base0
      else GraftColumnarProjectExec(
        base0.output.map(a => a: NamedExpression) ++ argAliases.values, base0)
    (rewritten, base)
  }

  /** Shared grouped-partial swap body for the direct HashAggregate
    * match and the exchange-gated SortAggregate absorption. Returns
    * the columnar kernel over `base`, or `agg` itself (tagged with
    * the fallback reason) when any key/function/layout check fails.
    */
  private def swapGroupedPartial(session: SparkSession, agg: BaseAggregateExec,
      base0: SparkPlan): SparkPlan = {
    // computed-arg absorption (see absorbAggArgs): sum(price*(1-disc))
    // swaps via a kernel Project synthesized below the agg
    val (rewrittenAes, base) = absorbAggArgs(agg.aggregateExpressions, base0)
    val keySpecs = allRight(agg.groupingExpressions.map {
      // The first partial of a float-keyed distinct/group plan wraps
      // the key in NormalizeFloatingNumbers' marker pair. The kernel's
      // double-key getter normalizes identically (canonical NaN,
      // -0.0 -> 0.0), so the wrapped key compiles to a plain
      // double-key read of the underlying column; the group emits the
      // normalized value under the alias's attribute.
      case Alias(KnownFloatingPointNormalized(NormalizeNaNAndZero(a: AttributeReference)), _)
          if ordinal(base, a) >= 0 && a.dataType == DoubleType =>
        Right(GroupKeySpec(ordinal(base, a), DoubleType))
      case e => groupKey(e, base)
    })
    // MIXED-mode nodes (Spark plans merge_xxx alongside the distinct
    // partial): Partial entries compile against raw inputs, the
    // PartialMerge entries against their buffer columns in the same
    // child output — the exec reads each kind through the matching
    // accumulate variant.
    val compiled = for {
      ks <- keySpecs
      specs <- allRight(rewrittenAes.map { ae =>
        if (ae.mode == PartialMerge)
          GraftColumnarAgg.compileMerge(ae, ordinal(base, _)).filterOrElse(
            GraftColumnarAgg.mixedMergeSupported,
            "merge-input spec without a columnar merge variant (moments family)")
        else GraftColumnarAgg.compile(ae, ordinal(base, _))
      })
    } yield (ks, specs)
    val mergeIdxSet = rewrittenAes.indices.filter(rewrittenAes(_).mode == PartialMerge).toSet
    compiled match {
      case Left(reason) => declined(agg, reason)
      // a ROW child means a RowToColumnarExec copy below the kernel —
      // only the decimal money lanes beat the fused codegen agg by more
      // than that copy costs (see GraftColumnarAgg.paysForRowStaging);
      // count/min/max shapes stay fused
      case Right((_, specs))
          if !base0.supportsColumnar && !GraftColumnarAgg.paysForRowStaging(specs) =>
        declined(agg, rowStagingReason)
      case Right((ks, specs)) =>
        val maxGroups = session.conf
          .getOption(GraftColumnarGroupedAggExec.maxGroupsKey)
          .map(_.toInt).getOrElse(GraftColumnarGroupedAggExec.defaultMaxGroups)
        if (keysThenBuffers(agg, specs))
          GraftColumnarGroupedAggExec(agg.output, ks, specs, base, maxGroups, mergeIdxSet)
        else keyMappedOutput(agg, specs) match {
          case Some(keyOut) =>
            GraftColumnarGroupedAggExec(agg.output, ks, specs, base, maxGroups,
              mergeIdxSet, keyOut)
          case None =>
            declined(agg, "partial output is not keys ++ plain buffer attributes")
        }
    }
  }

  /** Keys-only nodes (distinct stages, any level): the result
    * expressions may PRUNE, REORDER, or ALIAS the grouping keys —
    * Spark merges the downstream projection into a re-dedup above an
    * already-distinct child (the dedup-pipeline
    * `.distinct().select(a, b AS c)` shape). The kernel groups on the
    * FULL key tuple and emits only the mapped columns. The output must
    * not be empty: an ALL-pruned output (bare count over a distinct)
    * would be indistinguishable from the exec's Nil = natural-layout
    * sentinel, so that zero-column shape stays row. Interleaved
    * same-JVM A/Bs with and without this mapping found no loss outside
    * run-to-run spread (sf0.1, 4 cores, min-of-9: q47 1.87 vs 1.82 s,
    * q156 1.03 vs 0.96 s, middle halves of the runs 0.21 and 0.46 s
    * wide), so it is always on.
    */
  private def keyMappedOutput(agg: BaseAggregateExec, specs: Seq[AggSpec]): Option[Seq[Int]] =
    if (specs.nonEmpty || agg.resultExpressions.isEmpty) None
    else {
      val keyIds = agg.groupingExpressions.collect {
        case a: AttributeReference => a.exprId
        case al: Alias => al.exprId
      }
      val mapped = agg.resultExpressions.map {
        case a: Attribute => keyIds.indexOf(a.exprId)
        case Alias(ar: AttributeReference, _) => keyIds.indexOf(ar.exprId)
        case _ => -1
      }
      if (mapped.forall(_ >= 0)) Some(mapped) else None
    }
}
