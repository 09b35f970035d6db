package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, AttributeReference, CumeDist, CurrentRow, DenseRank, EvalMode, Expression, FrameLessOffsetWindowFunction, Lag, Lead, Literal, NamedExpression, NTile, NthValue, NullsFirst, PercentRank, RangeFrame, Rank, RowFrame, RowNumber, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression, WindowFrame, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, First, Last, Max, Min, Sum}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.graft.{GraftColumnarWindowExec, GraftWindowRangeSlideExec, WinAggSpec, WinSlideSpec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types._

/** Swaps of the window family, in order: the computed-key retry, pure
  * finite RANGE frames (GraftWindowRangeSlideExec) and the streaming
  * catch-all (GraftColumnarWindowExec, which also takes lag/lead and
  * finite ROWS frames). Also hosts the mixed-kind splitter the rule's
  * first pass runs, and the frame and bound helpers both share.
  */
object GraftWindowSwaps {
  import GraftColumnarRule._

  /** `swapOne` is the rule's composed swap, which the computed-key
    * retry runs on the nodes it builds. */
  def apply(session: SparkSession,
      swapOne: SparkPlan => SparkPlan): PartialFunction[SparkPlan, SparkPlan] = {
    // COMPUTED PARTITION BY / ORDER BY keys (pmod bucketing,
    // expressions): every window case below requires plain attribute
    // keys, so materialize the computed keys once in a row Project BELOW
    // the window (free — it fuses into the stage feeding the partition
    // buffer, and preserves the already-ensured ordering/distribution
    // since the sort keys are semantically the same values), rewrite the
    // spec onto the aliases, and RETRY the swap on the attribute-keyed
    // node. Commits only when the retry actually swapped to a graft
    // exec — otherwise the original node (with the retry's fallback
    // reason) is kept, so the degenerate outcome is never worse. An
    // attribute-only Project above restores the original output
    // (itself swapped to the zero-copy columnar select when the
    // window emits batches).
    case w: WindowExec
        if w.partitionSpec.nonEmpty &&
          (w.partitionSpec.exists(e => !e.isInstanceOf[AttributeReference]) ||
            w.orderSpec.exists(so => !so.child.isInstanceOf[AttributeReference])) &&
          w.partitionSpec.forall(_.deterministic) &&
          w.orderSpec.forall(_.child.deterministic) &&
          w.getTagValue(computedPKeyTag).isEmpty =>
      computedKeyRetry(w, swapOne)

    // Sliding RANGE-frame aggregation (rolling time/value windows:
    // RANGE 7 PRECEDING over a numeric key, INTERVAL '1' HOUR over a
    // timestamp): a value-bounded ring holds only the rows inside the
    // widest live frame — O(occupancy) memory vs the row WindowExec's
    // whole buffered partition. Guard: every expression is an
    // aggregate over a finite RANGE frame whose bounds convert to
    // ORDER-BY-value deltas, single attribute ORDER BY key.
    case w: WindowExec
        if flag(session, windowAggEnabledKey) && w.orderSpec.size == 1 &&
          w.orderSpec.head.child.isInstanceOf[AttributeReference] &&
          w.windowExpression.forall {
            case Alias(WindowExpression(_: AggregateExpression,
                WindowSpecDefinition(_, _, frame)), _) =>
              rangeFrame(frame, w.orderSpec.head.child.dataType).isDefined
            case _ => false
          } =>
      rangeWindow(w)

    // Everything else the streaming exec can take: running, whole-
    // partition and suffix frames, ranking and size-based functions,
    // lag/lead and finite ROWS frames (alone or mixed). The row
    // WindowExec copies every partition group into a (spillable)
    // buffer before computing; the swap streams ONE accumulator set
    // per function in one InternalRow pass over input
    // EnsureRequirements already ordered by (partition, order), and
    // offsets and finite ROWS frames hold only a ring of the rows they
    // still read — O(frame) memory under any partition-key skew
    // (reference analogue: CometWindowExec.scala:41-388 whitelist). All
    // window expressions must compile or none swap (the node is
    // atomic).
    case w: WindowExec if flag(session, windowAggEnabledKey) =>
      streamingWindow(w)
  }

  private def computedKeyRetry(w: WindowExec, swapOne: SparkPlan => SparkPlan): SparkPlan = {
    val computed = (w.partitionSpec ++ w.orderSpec.map(_.child))
      .filterNot(_.isInstanceOf[AttributeReference])
    val aliased = computed.zipWithIndex.map { case (e, i) => e -> Alias(e, s"_graftpkey$i")() }
    def rewrite(e: Expression): Expression = e match {
      case a: AttributeReference => a
      case other =>
        // Reference-equality lookup first (the exact instances from
        // partitionSpec/orderSpec flow through); semanticEquals as
        // the safety net if a future transformation copies the spec
        // expressions between the guard and this rewrite; the
        // original expression as last resort (the attribute-only
        // retry guard then simply declines — never worse).
        aliased.collectFirst { case (k, al) if k eq other => al.toAttribute }
          .orElse(aliased.collectFirst { case (k, al) if k.semanticEquals(other) => al.toAttribute })
          .getOrElse(other)
    }
    val proj = ProjectExec((w.child.output: Seq[NamedExpression]) ++ aliased.map(_._2), w.child)
    val inner = WindowExec(
      w.windowExpression,
      w.partitionSpec.map(rewrite),
      w.orderSpec.map(so => so.copy(child = rewrite(so.child))),
      swapOne(proj))
    inner.setTagValue(computedPKeyTag, ())
    w.getTagValue(splitWindowTag).foreach(_ => inner.setTagValue(splitWindowTag, ()))
    swapOne(inner) match {
      case still: WindowExec =>
        // retry declined — keep the original node, surface the reason
        still.getTagValue(fallbackReasonTag).foreach(r => w.setTagValue(fallbackReasonTag, r))
        w
      case swappedW => swapOne(ProjectExec(w.output, swappedW))
    }
  }

  private def rangeWindow(w: WindowExec): SparkPlan = {
    val so = w.orderSpec.head
    val oAttr = so.child.asInstanceOf[AttributeReference]
    val oType = oAttr.dataType
    val keyOk =
      if (!rangeOrderable(oType)) Seq(Left(s"unsupported RANGE order key type: $oType"))
      else if (ordinal(w.child, oAttr) < 0) Seq(Left("RANGE order key is not a child attribute"))
      else Nil
    val specs: Seq[Either[String, WinSlideSpec]] = w.windowExpression.map {
      case Alias(WindowExpression(AggregateExpression(af, Complete, false, None, _),
          WindowSpecDefinition(_, _, frame)), _) =>
        val (lo, hi) = rangeFrame(frame, oType).get
        // double bounds travel as bits — decode for the sanity check
        val degenerate =
          if (oType == DoubleType)
            java.lang.Double.longBitsToDouble(lo) > java.lang.Double.longBitsToDouble(hi)
          else lo > hi
        if (degenerate) Left(s"degenerate RANGE frame [$lo, $hi]")
        else winAggLane(af, w.child, allowString = false)
          .map(l => WinSlideSpec(l.fn, l.col, l.lane, l.outType, l.ansi, lo, hi))
          .toRight(s"unsupported RANGE window aggregate: $af (${af.dataType})")
      case other => Left(s"unexpected RANGE window expression: $other")
    }
    withPartitionKeys(w, keyOk ++ specs) { (pk, sps) =>
      GraftWindowRangeSlideExec(w.output, pk.map(_._1), pk.map(_._2),
        ordinal(w.child, oAttr), oType, if (so.direction == Ascending) 1 else -1,
        so.nullOrdering == NullsFirst, sps, w.child)
    }
  }

  private def streamingWindow(w: WindowExec): SparkPlan = {
    def ord(e: Expression): Int = ordinal(w.child, e)
    val specs: Seq[Either[String, WinAggSpec]] = w.windowExpression.map {
      case Alias(WindowExpression(AggregateExpression(af, Complete, false, None, _),
          WindowSpecDefinition(_, _, frame)), _)
          if frameKind(frame).isDefined || isExclFrame(frame) || slideFrame(frame).isDefined =>
        slideFrame(frame) match {
          case Some((lo, hi)) => sliceSpec(af, lo, hi, w.child)
          case None => runningSpec(af, frame, w.child)
        }
      // lag/lead: fn-12 specs read the emission ring directly
      case Alias(WindowExpression(f: FrameLessOffsetWindowFunction, _), _)
          if f.isInstanceOf[Lag] || f.isInstanceOf[Lead] =>
        offsetShape(f, w.child)
          .map { case (col, off, d, dt) => WinAggSpec(12, col, 3, dt, ansi = false, 0, off = off, dflt = d) }
          .toRight(s"unsupported lag/lead shape: $f (needs an attribute " +
            "input of long/double/string family, literal offset, literal " +
            "default, ignoreNulls=false)")
      // ranking functions: per-row streaming values (their frame is
      // ROWS UNBOUNDED..CURRENT by definition); rank/dense_rank peer
      // detection is validated below against the node's ORDER BY
      case Alias(WindowExpression(f @ (_: RowNumber | _: Rank | _: DenseRank),
          WindowSpecDefinition(_, _, frame)), _) if frameKind(frame).contains(0) =>
        val fn = f match {
          case _: RowNumber => 6
          case _: Rank => 7
          case _ => 8
        }
        Right(WinAggSpec(fn, -1, 2, IntegerType, ansi = false, 0))
      // size-based functions (SizeBasedWindowFunction — need the
      // partition row count): the node runs the partition-buffered
      // row face; ntile/percent_rank close at the row (ROWS frame),
      // cume_dist at the peer group's end (RANGE frame)
      case Alias(WindowExpression(nt: NTile, WindowSpecDefinition(_, _, frame)), _)
          if frameKind(frame).contains(0) =>
        nt.buckets match {
          case Literal(b: Int, IntegerType) if b > 0 =>
            Right(WinAggSpec(14, -1, 2, IntegerType, ansi = false, 0, nth = b))
          case other => Left(s"ntile bucket count must be a positive int literal: $other")
        }
      case Alias(WindowExpression(_: PercentRank, WindowSpecDefinition(_, _, frame)), _)
          if frameKind(frame).contains(0) =>
        Right(WinAggSpec(15, -1, 2, DoubleType, ansi = false, 0))
      case Alias(WindowExpression(_: CumeDist, WindowSpecDefinition(_, _, frame)), _)
          if frameKind(frame).contains(1) =>
        Right(WinAggSpec(16, -1, 2, DoubleType, ansi = false, 1))
      // nth_value (note: Spark rewrites first_value WITHOUT
      // ignoreNulls into nth_value(x, 1, false)); boxed lane.
      // Over a SUFFIX frame only n = 1 is supported — it IS
      // first_value there, so it maps onto the fn-9 suffix lane
      case Alias(WindowExpression(NthValue(a: AttributeReference, Literal(n: Int, IntegerType), ign),
          WindowSpecDefinition(_, _, frame)), _)
          if frameKind(frame).exists(k => k <= 2 || n == 1) && ord(a) >= 0 && n > 0 &&
            GraftColumnarWindowExec.supportedBoxedType(a.dataType) =>
        val k = frameKind(frame).get
        if (k >= 3) Right(WinAggSpec(9, ord(a), 3, a.dataType, ansi = false, k, ign = ign))
        else Right(WinAggSpec(11, ord(a), 3, a.dataType, ansi = false, k, ign = ign, nth = n))
      case other =>
        // name the window function, not its Alias: Spark plans avg over a
        // short decimal as a Cast of an avg over unscaled values
        // (DecimalAggregates), a wrapper no lane reads
        val fn = other.collectFirst { case WindowExpression(f, _) => s"$f (${f.dataType})" }
        val under = other.children.collectFirst {
          case e if !e.isInstanceOf[WindowExpression] => s" under ${e.nodeName}"
        }
        Left(s"unsupported window expression shape: ${fn.getOrElse(other.toString)}" +
          under.getOrElse("") + " (running ROWS/RANGE or whole-partition frame over Complete agg," +
          " or row_number/rank/dense_rank, only)")
    }
    withPartitionKeys(w, specs) { (pk, sp) =>
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
      if (kinds.size > 1 && !kinds.forall(k => k == 3 || k == 4))
        declined(w, "mixed window frame kinds in one node (streaming + deferred)")
      else if (sp.exists(s => s.fn != 12 && s.fn != 13) &&
          sp.map(GraftColumnarWindowExec.leadRows).max > GraftColumnarWindowExec.maxFrameRows)
        // the ring loop snapshots the accumulators of running/ranking
        // specs once per ring slot, and the ring spans the lead reach
        declined(w, "lag/lead or FOLLOWING reach beside running/ranking " +
          s"specs wider than the snapshot ring cap ${GraftColumnarWindowExec.maxFrameRows}")
      else if (sp.exists(_.fn >= 14) && sp.exists(s => s.excl || s.fn == 12 || s.fn == 13))
        // the size-based path's emission cursors replay plain
        // streaming updates only — not the offset ring / sliding
        // slice machines
        declined(w, "size-based window function (ntile/percent_rank/cume_dist) " +
          "mixed with offset/sliding/exclusive specs")
      else if (needPeerKeys && (w.orderSpec.isEmpty || !w.orderSpec.forall(so => so.child match {
          case a: AttributeReference =>
            ord(a) >= 0 && GraftColumnarWindowExec.supportedPeerType(a.dataType)
          case _ => false
        })))
        declined(w, "peer detection (RANGE running frame / rank / dense_rank) " +
          "needs attribute ORDER BY keys of long-family/string/double types")
      else {
        val peers =
          if (needPeerKeys) w.orderSpec.map(_.child.asInstanceOf[AttributeReference]) else Nil
        GraftColumnarWindowExec(w.output, pk.map(_._1), pk.map(_._2),
          peers.map(ord), peers.map(_.dataType), sp, w.child)
      }
    }
  }

  /** A finite-ROWS aggregate: an fn-13 slice spec. Its frame width is
    * capped per spec: invertible aggregates run the O(n) kernels, whose
    * value rings admit maxInvertibleFrameRows; the rest recompute each
    * slice over the row ring, capped at maxFrameRows. */
  private def sliceSpec(af: AggregateFunction, lo: Long, hi: Long,
      child: SparkPlan): Either[String, WinAggSpec] =
    if (lo > hi) Left(s"degenerate frame [$lo, $hi]")
    else winAggLane(af, child, allowString = true)
      .toRight(s"unsupported sliding window aggregate: $af (${af.dataType})")
      .flatMap { l =>
        val cap =
          if (GraftColumnarWindowExec.invertible(l.fn, l.lane)) GraftColumnarWindowExec.maxInvertibleFrameRows
          else GraftColumnarWindowExec.maxFrameRows
        if (math.max(0L, hi) - math.min(0L, lo) + 1L > cap)
          Left(s"sliding frame [$lo, $hi] wider than the ring cap $cap")
        else Right(WinAggSpec(13, l.col, l.lane, l.outType, l.ansi, 0,
          off = l.fn, sLo = lo.toInt, sHi = hi.toInt))
      }

  /** An aggregate over a running, exclusive, whole-partition or suffix
    * frame. */
  private def runningSpec(af: AggregateFunction, frame: WindowFrame,
      child: SparkPlan): Either[String, WinAggSpec] = {
    val excl = isExclFrame(frame)
    val kind = if (excl) 0 else frameKind(frame).get
    val lane = winAggLane(af, child, allowString = false)
      .map(l => WinAggSpec(l.fn, l.col, l.lane, l.outType, l.ansi, kind))
      .orElse(af match {
        // first/last on the boxed lane (last + ignoreNulls over
        // the running frame is the forward-fill / as-of shape)
        case f: First if boxedInput(f.child, child) =>
          Some(WinAggSpec(9, ordinal(child, f.child), 3, f.child.dataType,
            ansi = false, kind, ign = f.ignoreNulls))
        case l: Last if boxedInput(l.child, child) =>
          Some(WinAggSpec(10, ordinal(child, l.child), 3, l.child.dataType,
            ansi = false, kind, ign = l.ignoreNulls))
        case _ => None
      })
      .toRight(s"unsupported window aggregate: $af (${af.dataType})")
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
    lane.filterOrElse(s => s.kind < 3 || Set(1, 2, 3, 5, 9, 10)(s.fn) || (s.fn == 0 && s.lane == 0),
      "suffix frame (CURRENT ROW .. UNBOUNDED FOLLOWING) " +
        "supports associative lanes only (integral sum, count, " +
        "min/max); double sums and avg keep the row path")
      .map(s => if (excl) s.copy(excl = true) else s)
  }

  private def boxedInput(e: Expression, child: SparkPlan): Boolean =
    e.isInstanceOf[AttributeReference] && ordinal(child, e) >= 0 &&
      GraftColumnarWindowExec.supportedBoxedType(e.dataType)

  /** One window aggregate's lane: `fn` 0 sum, 1 count(x), 2 min, 3 max,
    * 4 avg, 5 count(*); `lane` 0 long family, 1 double, 2 count,
    * 3 string (min/max, only where `allowString`). */
  private case class WinLane(fn: Int, col: Int, lane: Int, outType: DataType, ansi: Boolean)

  /** The lane table every window family shares: which aggregate over
    * which input type runs on which lane. None when the function or its
    * input has no lane. */
  private def winAggLane(af: AggregateFunction, child: SparkPlan,
      allowString: Boolean): Option[WinLane] = {
    def ord(e: Expression): Int = ordinal(child, e)
    def extreme(fn: Int, e: Expression, outType: DataType): Option[WinLane] = e match {
      case a: AttributeReference if ord(a) >= 0 && longFamily(a.dataType) =>
        Some(WinLane(fn, ord(a), 0, outType, ansi = false))
      case a: AttributeReference if ord(a) >= 0 && fractional(a.dataType) =>
        Some(WinLane(fn, ord(a), 1, outType, ansi = false))
      case a: AttributeReference if ord(a) >= 0 && allowString && a.dataType == StringType =>
        Some(WinLane(fn, ord(a), 3, outType, ansi = false))
      case _ => None
    }
    af match {
      case s @ Sum(a: AttributeReference, ctx)
          if ord(a) >= 0 && integral(a.dataType) && ctx.evalMode != EvalMode.TRY =>
        Some(WinLane(0, ord(a), 0, s.dataType, ctx.evalMode == EvalMode.ANSI))
      case s @ Sum(a: AttributeReference, _) if ord(a) >= 0 && fractional(a.dataType) =>
        Some(WinLane(0, ord(a), 1, s.dataType, ansi = false))
      case Count(Seq(l: Literal)) if l.value != null =>
        Some(WinLane(5, -1, 2, LongType, ansi = false))
      case Count(Seq(a: AttributeReference)) if ord(a) >= 0 =>
        Some(WinLane(1, ord(a), 2, LongType, ansi = false))
      case m: Min => extreme(2, m.child, m.dataType)
      case m: Max => extreme(3, m.child, m.dataType)
      case av @ Average(a: AttributeReference, em)
          if ord(a) >= 0 && (integral(a.dataType) || fractional(a.dataType)) &&
            em != EvalMode.TRY =>
        Some(WinLane(4, ord(a), if (fractional(a.dataType)) 1 else 0, av.dataType, ansi = false))
      case _ => None
    }
  }

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def fractional(dt: DataType): Boolean = dt == DoubleType || dt == FloatType

  private def longFamily(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
        DateType | TimestampType | TimestampNTZType => true
    case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
    case _ => false
  }

  /** ORDER BY key types a finite RANGE frame converts bounds for. */
  private def rangeOrderable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType | DoubleType => true
    case _ => false
  }

  /** (child ordinal, type) of every PARTITION BY key: plain child
    * attributes of a supported partition type. */
  private def partitionKeys(w: WindowExec): Either[String, Seq[(Int, DataType)]] =
    allRight(w.partitionSpec.map {
      case a: AttributeReference
          if ordinal(w.child, a) >= 0 && GraftColumnarWindowExec.supportedPartType(a.dataType) =>
        Right((ordinal(w.child, a), a.dataType))
      case other => Left(s"unsupported window partition key: $other")
    })

  /** Runs `swap` on the node's partition keys and compiled specs, or
    * tags the node with the first failing key or spec, or with an empty
    * PARTITION BY (one global group — the row exec's single-partition
    * plan; no win, keep it). */
  private def withPartitionKeys[S](w: WindowExec, specs: Seq[Either[String, S]])(
      swap: (Seq[(Int, DataType)], Seq[S]) => SparkPlan): SparkPlan =
    (for { pk <- partitionKeys(w); sps <- allRight(specs) } yield (pk, sps)) match {
      case Left(reason) => declined(w, reason)
      case Right((pk, _)) if pk.isEmpty => declined(w, "empty PARTITION BY")
      case Right((pk, sps)) => swap(pk, sps)
    }

  private def isLagLead(e: NamedExpression): Boolean = e match {
    case Alias(WindowExpression(f: FrameLessOffsetWindowFunction, _), _) =>
      f.isInstanceOf[Lag] || f.isInstanceOf[Lead]
    case _ => false
  }

  /** (input ordinal, offset, default, type) of a lag/lead over a plain
    * child attribute with a literal offset and default. */
  private def offsetShape(f: FrameLessOffsetWindowFunction,
      child: SparkPlan): Option[(Int, Int, Any, DataType)] =
    (f.input, f.offset, f.default) match {
      case (a: AttributeReference, Literal(off: Int, IntegerType), dflt)
          if ordinal(child, a) >= 0 && !f.ignoreNulls &&
            GraftColumnarWindowExec.supportedBoxedType(a.dataType) &&
            (dflt == null || dflt.isInstanceOf[Literal]) =>
        val d = dflt match {
          case l: Literal => l.value
          case _ => null
        }
        Some((ordinal(child, a), off, d, a.dataType))
      case _ => None
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
  private def frameKind(f: WindowFrame): Option[Int] = f match {
    case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => Some(0)
    case SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow) => Some(1)
    case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) => Some(2)
    case SpecifiedWindowFrame(RowFrame, CurrentRow, UnboundedFollowing) => Some(3)
    case SpecifiedWindowFrame(RangeFrame, CurrentRow, UnboundedFollowing) => Some(4)
    case _ => None
  }

  /** The EXCLUSIVE running frame (UNBOUNDED..1 PRECEDING — the
    * distributed-prefix-sum shape): kind 0, value closes one row
    * early (the previous row's accumulator snapshot). */
  private def isExclFrame(f: WindowFrame): Boolean = f match {
    case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, Literal(-1, IntegerType)) => true
    case _ => false
  }

  /** Row offsets of a finite ROWS frame. */
  private def slideFrame(f: WindowFrame): Option[(Long, Long)] = f match {
    case SpecifiedWindowFrame(RowFrame, loB, hiB) =>
      for { lo <- slideBound(loB); hi <- slideBound(hiB) } yield (lo, hi)
    case _ => None
  }

  /** ORDER-BY-value deltas of a finite RANGE frame over a key of type
    * `orderType`. */
  private def rangeFrame(f: WindowFrame, orderType: DataType): Option[(Long, Long)] = f match {
    case SpecifiedWindowFrame(RangeFrame, loB, hiB) =>
      for { lo <- rangeBound(loB, orderType); hi <- rangeBound(hiB, orderType) } yield (lo, hi)
    case _ => None
  }

  /** Finite row offset of a ROWS-frame bound: CurrentRow is 0,
    * literal ints/longs are themselves, unbounded ends are None. */
  private def slideBound(e: Expression): Option[Long] = e match {
    case CurrentRow => Some(0L)
    case Literal(i: Int, IntegerType) => Some(i.toLong)
    case Literal(l: Long, LongType) => Some(l)
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
  private def rangeBound(e: Expression, orderType: DataType): Option[Long] = {
    val microsPerDay = 86400L * 1000000L
    e match {
      case CurrentRow => Some(0L)
      case Literal(v, dt) =>
        (orderType, dt, v) match {
          case (ByteType | ShortType | IntegerType | LongType, IntegerType, i: Int) =>
            Some(i.toLong)
          case (ByteType | ShortType | IntegerType | LongType, LongType, l: Long) =>
            Some(l)
          case (DateType, _: DayTimeIntervalType, us: Long) if us % microsPerDay == 0 =>
            Some(us / microsPerDay)
          case (DateType, CalendarIntervalType, c: org.apache.spark.unsafe.types.CalendarInterval)
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
    * size-based buffered face refuses to mix with; kind 6 is the
    * classifier-only bucket for finite RANGE frames (the
    * GraftWindowRangeSlideExec family — `rangeOrderType` carries the
    * node's single attribute ORDER BY key type when one exists, so
    * bound conversion is checked up front). None = shape the engine
    * never compiles — the node keeps today's unsplit fallback.
    */
  private def winExprGroup(ne: NamedExpression,
      rangeOrderType: Option[DataType]): Option[(Int, Boolean, Boolean)] = ne match {
    case Alias(WindowExpression(AggregateExpression(af, Complete, false, None, _),
        WindowSpecDefinition(_, _, frame)), _) =>
      val known = af match {
        case _: Sum | _: Count | _: Min | _: Max | _: Average | _: First | _: Last => true
        case _ => false
      }
      val noFirstLast = af match {
        case _: First | _: Last => false
        case _ => true
      }
      if (!known) None
      else if (isExclFrame(frame)) Some((0, true, false))
      else if (frameKind(frame).isDefined) Some((frameKind(frame).get, false, false))
      // first/last are not in the fn-13 slice set — a group holding
      // one could never compile, so don't split on it
      else if (slideFrame(frame).isDefined) { if (noFirstLast) Some((0, true, false)) else None }
      // finite RANGE frame (rolling time/value window): its own chain
      // node for the GraftWindowRangeSlideExec case — the time-series
      // SELECT mixing a rolling 7-day avg with lag() or a running
      // total is the second most common mixed node. 6 is a
      // classifier-only bucket id (kinds 3/4 are the suffix frames,
      // already returned by frameKind above)
      else if (noFirstLast && rangeOrderType.exists(rangeFrame(frame, _).isDefined))
        Some((6, false, false))
      else None
    case e if isLagLead(e) => Some((0, true, false))
    case Alias(WindowExpression(_: RowNumber | _: Rank | _: DenseRank,
        WindowSpecDefinition(_, _, frame)), _) if frameKind(frame).contains(0) =>
      Some((0, false, false))
    case Alias(WindowExpression(_: NTile | _: PercentRank, WindowSpecDefinition(_, _, frame)), _)
        if frameKind(frame).contains(0) => Some((0, false, true))
    case Alias(WindowExpression(_: CumeDist, WindowSpecDefinition(_, _, frame)), _)
        if frameKind(frame).contains(1) => Some((1, false, true))
    case Alias(WindowExpression(_: NthValue, WindowSpecDefinition(_, _, frame)), _)
        if frameKind(frame).isDefined =>
      Some((frameKind(frame).get, false, false))
    case _ => None
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
    * swap pass then takes each homogeneous node independently (a
    * finite-RANGE group lands on GraftWindowRangeSlideExec, every other
    * group on GraftColumnarWindowExec — the streaming group with its
    * lag/lead and finite-ROWS specs on the ring loop), and the merge-back
    * pass re-fuses adjacent nodes left unswapped, so the degenerate
    * outcome is never worse than today's single row WindowExec. A
    * size-based group sits at the BOTTOM, on the sort that counts its
    * partitions; the other buffering kinds follow where rows are
    * narrowest; the streaming kind-0 group tops it. (Reference
    * analogue: CometWindowExec
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
  def splitMixedWindow(w: WindowExec): Option[SparkPlan] = {
    // unsupported partition keys fail EVERY split node the same way —
    // skip the chain and keep the single row node
    if (w.partitionSpec.isEmpty || w.windowExpression.size < 2 || partitionKeys(w).isLeft)
      return None
    // a single supported attribute ORDER BY key admits finite-RANGE
    // groups (the GraftWindowRangeSlideExec shape)
    val rangeOrderType = w.orderSpec match {
      case Seq(so) => so.child match {
        case a: AttributeReference if ordinal(w.child, a) >= 0 && rangeOrderable(a.dataType) =>
          Some(a.dataType)
        case _ => None
      }
      case _ => None
    }
    val classed = w.windowExpression.map(e => winExprGroup(e, rangeOrderType).map(g => (e, g)))
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
      val nw = WindowExec(ges.map(_._1), w.partitionSpec, w.orderSpec, cur)
      nw.setTagValue(splitWindowTag, ())
      cur = nw
    }
    Some(ProjectExec(w.output, cur))
  }
}
