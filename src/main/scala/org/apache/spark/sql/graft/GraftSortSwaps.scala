package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Descending, DenseRank, NullsFirst, Rank, RowNumber, SortOrder}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.graft.{GraftColumnarRankGroupLimitExec, GraftColumnarSortExec, GraftColumnarTopKExec, GraftColumnarWindowGroupLimitExec, TopKKeySpec}
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.types.DataType

/** Swaps of the ordering operators over a columnar child: the
  * per-partition sort, the partial window group limit and the global
  * top-k. */
object GraftSortSwaps {
  import GraftColumnarRule._

  def apply(session: SparkSession): PartialFunction[SparkPlan, SparkPlan] = {
    // Per-partition sort over a columnar block: replace
    // ColumnarToRow + SortExec with the typed index sort
    // (GraftColumnarSortExec). Sort keys must be plain attributes and
    // EVERY output column a bufferable type (long/double family or
    // string) — the operator decomposes batches column-wise. Oversized
    // partitions spill sorted runs and merge (see the exec's scaladoc).
    // No spill-safety gate needed: the columnar sort spills sorted runs
    // to disk on task-memory refusal or past its byte threshold, so
    // bucketed scans (one unbounded partition per bucket) and
    // row-expanding columnar children (join probes) are safe to swap —
    // an oversized partition degrades to run merge IO, exactly like the
    // row SortExec's UnsafeExternalSorter.
    case s: SortExec
        if s.child.supportsColumnar && (flag(session, sortEnabledKey, default = false) ||
          (flag(session, narrowSortEnabledKey) && s.output.length <= 4 &&
            s.output.forall(a => GraftColumnarSortExec.numericColType(a.dataType)))) =>
      allRight(s.sortOrder.map(so =>
        sortKeySpec(so, s.child, GraftColumnarSortExec.supportedColType)
          .toRight(s"unsupported sort key: ${so.child} (${so.child.dataType})"))) match {
        case Left(reason) => declined(s, reason)
        case Right(_) if !s.child.output.forall(a =>
            GraftColumnarSortExec.supportedColType(a.dataType)) =>
          declined(s, "sort output has a non-bufferable column type (long/double " +
            "family and string only)")
        case Right(keys) => GraftColumnarSortExec(keys, s.sortOrder, s.global, s.child)
      }

    // PARTIAL WindowGroupLimit (rank-1/top-k-per-key pushdown below the
    // shuffle): Spark's row operator needs a map-side SORT of the whole
    // input; the columnar probe replaces Sort + WindowGroupLimit with a
    // hash map of bounded per-group heaps over the scan's batches.
    // Matched ON THE EXCHANGE so the swap only fires when a shuffle
    // re-groups above — the one place dropping the sorted-run contract
    // (and overflow-flushing extra candidates) is always correct.
    case ex: ShuffleExchangeExec
        if flag(session, wglEnabledKey) && ex.child.isInstanceOf[WindowGroupLimitExec] =>
      val wgl = ex.child.asInstanceOf[WindowGroupLimitExec]
      val base = wgl.child match {
        case st: SortExec if !st.global => st.child
        // transformUp may already have swapped the map-side sort for
        // the columnar kernel — the WGL probe needs no sort at all,
        // so unwrap that too
        case gs: GraftColumnarSortExec if !gs.global => gs.child
        case c => c
      }
      if (!base.supportsColumnar || wgl.mode != Partial) ex
      else {
        val pOrds = wgl.partitionSpec.map {
          case a: AttributeReference
              if GraftColumnarWindowGroupLimitExec.supportedKeyType(a.dataType) => ordinal(base, a)
          case _ => -1
        }
        val oSpecs = wgl.orderSpec.map(
          sortKeySpec(_, base, GraftColumnarWindowGroupLimitExec.supportedKeyType))
        val fn = wgl.rankLikeFunction
        val keysOk = wgl.limit > 0 &&
          pOrds.nonEmpty && pOrds.size <= 2 && pOrds.forall(_ >= 0) &&
          oSpecs.nonEmpty && oSpecs.forall(_.isDefined)
        if (!keysOk ||
            !(fn.isInstanceOf[RowNumber] || fn.isInstanceOf[Rank] || fn.isInstanceOf[DenseRank])) {
          declined(wgl, "window group limit not columnar-probeable (needs row_number/" +
            "rank/dense_rank, 1-2 attribute partition keys and attribute " +
            "order keys of supported types)")
          ex
        } else {
          val maxGroups = session.conf.getOption(wglMaxGroupsKey)
            .map(_.toInt).getOrElse(wglDefaultMaxGroups)
          val pTypes = wgl.partitionSpec.map(_.dataType)
          val swapped =
            if (fn.isInstanceOf[RowNumber])
              GraftColumnarWindowGroupLimitExec(
                pOrds, pTypes, oSpecs.flatten, wgl.limit, maxGroups, base)
            else
              // rank/dense_rank: ties survive, so the probe tracks key
              // thresholds only and emits candidates zero-copy
              GraftColumnarRankGroupLimitExec(pOrds, pTypes, oSpecs.flatten, wgl.limit,
                dense = fn.isInstanceOf[DenseRank], maxGroups, base)
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
    case t @ TakeOrderedAndProjectExec(limit, sortOrder, projectList, child, offset)
        if child.supportsColumnar && flag(session, topkEnabledKey) && limit > 0 &&
          offset >= 0 && offset < limit =>
      allRight(sortOrder.map(so =>
        sortKeySpec(so, child, GraftColumnarTopKExec.supportedKeyType)
          .toRight(s"unsupported top-k sort key: ${so.child} (${so.child.dataType})"))) match {
        case Left(reason) => declined(t, reason)
        case Right(keys) =>
          GraftColumnarTopKExec(limit, keys, sortOrder, projectList, child, offset)
      }
  }

  /** The kernels' key spec of a sort order over a plain `child`
    * attribute of a `supported` type. */
  private def sortKeySpec(so: SortOrder, child: SparkPlan,
      supported: DataType => Boolean): Option[TopKKeySpec] = so.child match {
    case a: AttributeReference if ordinal(child, a) >= 0 && supported(a.dataType) =>
      Some(TopKKeySpec(ordinal(child, a), a.dataType,
        desc = so.direction == Descending, nullsFirst = so.nullOrdering == NullsFirst))
    case _ => None
  }
}
