// In org.apache.spark.sql.execution.graft alongside the other columnar
// operators (the reference's placement is org.apache.spark.sql.comet).
package org.apache.spark.sql.execution.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types._

import GraftColumnarWindowExec.{emitDbl, emitLong, readBoxed, rowDbl, rowLong}

/** One window aggregate over a supported frame.
  *
  * `fn`: 0=sum 1=count(col) 2=min 3=max 4=avg 5=count(*),
  * 6=row_number 7=rank 8=dense_rank (ranking: col = -1, always kind 0 —
  * their value closes AT the row; 7/8 need the node's ORDER BY keys for
  * peer detection, threaded via orderIdx/orderTypes),
  * 9=first 10=last (`ign` = ignoreNulls; last+ign is the forward-fill
  * shape),
  * 11=nth_value (`nth` = 1-based frame row; Spark rewrites
  * first_value without ignoreNulls into nth_value(x, 1, false)),
  * 12=lag/lead (`off` = SIGNED row offset, `dflt` = literal default —
  * for nodes MIXING offsets with other streaming functions; pure
  * offset nodes take the dedicated [[GraftWindowOffsetExec]]),
  * 13=sliding ROWS aggregate in a MIXED node (`sLo`/`sHi` = finite row
  * bounds; the winnowing min-over-window + lead shape; `lane` 3 adds
  * string min/max via UTF8String compare — pure sliding nodes take the
  * dedicated [[GraftWindowSlidingExec]]),
  * 14=ntile (`nth` = bucket count), 15=percent_rank, 16=cume_dist —
  * the SIZE-BASED functions (SizeBasedWindowFunction: their value needs
  * the partition row count, so the node runs the size-based row face,
  * which streams groups the grouped sort below has counted; 14/15
  * close at the row — kind 0 frames; 16 closes at the peer group's
  * end — kind 1).
  * `excl` marks the exclusive running frame ROWS UNBOUNDED
  * PRECEDING..1 PRECEDING (fn 0-5): the value closes one row EARLIER —
  * the distributed-prefix-sum shape. Offset, fn-13 sliding and excl
  * specs take the ring loop (emission lags consumption by the ring, fed from per-slot
  * accumulator snapshots).
  * `lane`: 0 = long-family input (integral/date/ts/bool/Decimal64
  * unscaled), 1 = double-family input, 2 = no input lane (counts,
  * ranking), 3 = boxed catalyst value (first/last — any offset-supported
  * type incl. strings).
  * `outType` is the row path's exact result type (sum(int)=long,
  * sum(float)=double, min/max=input type, count=long, avg=double).
  * `ansi` drives sum-over-integral overflow: throw (Spark's Add
  * semantics) vs two's-complement wrap.
  * `kind`: 0 = ROWS UNBOUNDED PRECEDING..CURRENT ROW (streaming,
  * per-row value), 1 = RANGE UNBOUNDED PRECEDING..CURRENT ROW (the
  * DEFAULT frame under ORDER BY: value closes at the peer group's
  * end), 2 = whole partition (UNBOUNDED..UNBOUNDED, the no-ORDER-BY
  * default: value closes at the partition's end).
  */
final case class WinAggSpec(
    fn: Int, col: Int, lane: Int, outType: DataType, ansi: Boolean,
    kind: Int = 0, ign: Boolean = false, nth: Int = 0,
    off: Int = 0, dflt: Any = null, excl: Boolean = false,
    sLo: Int = 0, sHi: Int = 0) {
  /** fn 13 reuses `off` as the inner aggregate op (the fn 0-5 codes). */
  def fn13Op: Int = off
  def fn13IsCountStar: Boolean = off == 5
}

/** Columnar window aggregation over running ROWS frames (reference
  * analogue: CometWindowExec.scala:41-388, agg whitelist :108-147; the
  * native plan is planner.rs:1879-1922 — the reference ships it
  * default-off for correctness, this version is dual-run-gated the same
  * honest way).
  *
  * Spark's row WindowExec buffers EVERY partition group in an
  * UnsafeExternalSorter-backed buffer, then for the running frame walks
  * it once per window function. For the
  * `sum(x) OVER (PARTITION BY p ORDER BY o ROWS UNBOUNDED PRECEDING)`
  * family none of that buffering is needed: input arrives sorted by
  * (p, o) from the sort below, so one streaming pass holds ONE
  * accumulator per window function and emits each row as soon as it
  * is read — zero buffering. The node reads and emits rows; over a
  * columnar child Spark's ColumnarToRow feeds it.
  *
  * At 100 TB the difference is structural, not constant-factor: the row
  * operator's per-group buffer degrades to spill IO on any skewed
  * partition key (one hot key = one giant buffered group), while this
  * pass is O(1) memory regardless of group size — skew changes nothing.
  *
  * The swap fires on any WindowExec whose expressions all compile —
  * EnsureRequirements has already ordered the child by
  * (partition, order). Three frame kinds:
  *  - ROWS UNBOUNDED..CURRENT (kind 0): fully streaming, per-row value;
  *  - RANGE UNBOUNDED..CURRENT (kind 1, the DEFAULT frame under ORDER
  *    BY): a peer group's value closes at its last row, so rows buffer
  *    ONE PEER GROUP in Spark's own spill-backed
  *    ExternalAppendOnlyUnsafeRowArray — vs the row WindowExec's whole
  *    partition;
  *  - UNBOUNDED..UNBOUNDED (kind 2, the no-ORDER-BY default): the
  *    partition's value closes at its end — both engines buffer the
  *    partition, with the same spill machinery.
  * Kinds must be homogeneous per node (mixed streaming + deferred would
  * need per-row value storage); bounded/sliding frames keep the row
  * path.
  *
  * Ranking functions (row_number/rank/dense_rank — the SCD2 /
  * pick-latest / top-k-per-group shape) ride the same kind-0 streaming
  * pass as per-node specs: row_number is the partition row counter,
  * rank/dense_rank add peer detection against the previous row's ORDER
  * BY keys — all O(1) state where the row WindowExec buffers the group.
  * (The reference falls back on ranking entirely —
  * CometWindowExec.scala:108-147 whitelists aggregates only.)
  *
  * first/last/nth_value run on a BOXED value lane (fn 9-11, any
  * offset-supported type incl. strings) across all three kinds —
  * last + ignoreNulls over the running frame is the forward-fill /
  * as-of-join shape (q82's plan swaps through it). Note Spark rewrites
  * first_value without ignoreNulls into nth_value(x, 1, false).
  *
  * Nodes MIXING lag/lead with other streaming functions (the SCD2
  * row_number + lead + running-sum shape, q132) and EXCLUSIVE running
  * frames (UNBOUNDED..1 PRECEDING — the distributed-prefix-sum shape,
  * q112) run a ring + per-slot accumulator-snapshot machine on the row
  * face: emission lags consumption by maxLead rows, reading each row's
  * own accumulator snapshot (the previous row's for exclusive frames)
  * and the ring rows for offsets. Peer keys extend to double/float via
  * normalized-bits equality (the row path's SQLOrderingUtil classes).
  *
  * A/B (FilterMicroBench winagg-, winrank-, winfl-, winmix- prefixes;
  * sf0.1, 3 runs of min-of-5): streaming — many tiny
  * groups 0.81-0.95x, three ~200k-row hot groups 0.93-0.94x,
  * six-function pass 0.94-1.05x; deferred — RANGE heavy ties
  * 0.97-0.99x, whole-partition 0.78-0.98x; ranking — row_number over
  * ~4-row groups 0.90-0.95x, rank+dense_rank+row_number over three hot
  * groups 0.96-1.07x; forward-fill first+last 0.86-0.96x; mixed
  * ranking+lead+running-sum 0.86-0.99x.
  * Win-to-parity on every shape, so the swap defaults ON
  * (spark.graft.columnar.window.enabled=false to keep the row
  * WindowExec).
  */
case class GraftColumnarWindowExec(
    output: Seq[Attribute],
    partIdx: Seq[Int],
    partTypes: Seq[DataType],
    orderIdx: Seq[Int],
    orderTypes: Seq[DataType],
    specs: Seq[WinAggSpec],
    child: SparkPlan)
    extends UnaryExecNode {

  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering = child.outputOrdering
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output.drop(child.output.length))

  override lazy val metrics = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numPartitionGroups" -> SQLMetrics.createMetric(sparkContext, "window partition groups"),
    "numStreamedGroups" -> SQLMetrics.createMetric(sparkContext,
      "window partition groups streamed with a known size"))

  override protected def doExecute(): RDD[InternalRow] =
    if (specs.exists(_.fn >= 14)) sizeBasedRowPath()
    else if (specs.forall(_.kind == 0)) streamingRowPath()
    else if (specs.head.kind >= 3) suffixRowPath()
    else deferredRowPath()

  /** Streaming row face for the shuffled window shape: one pass, one
    * accumulator set, a JoinedRow per input row — where the row
    * WindowExec first copies every group into an
    * ExternalAppendOnlyUnsafeRowArray (spilling on big groups) before
    * computing the identical running values.
    */
  private def streamingRowPath(): RDD[InternalRow] = {
    val (inM, grpM) = (metrics("numInputRows"), metrics("numPartitionGroups"))
    val pIdx = partIdx.toArray
    val pTypes = partTypes.toArray
    val oIdx = orderIdx.toArray
    val oTypes = orderTypes.toArray
    val ss = specs.toArray
    val childOut = child.output
    val inTypes = ss.map(s => if (s.col >= 0) childOut(s.col).dataType else null)
    val outAll = output
    // rank/dense_rank need the previous row's ORDER BY keys for peer
    // detection; row_number needs only the partition counter
    val needPeers = ss.exists(s => s.fn == 7 || s.fn == 8)
    child.execute().mapPartitionsInternal { rows =>
      val nS = ss.length
      val partCarry = new KeyCarry(pIdx, pTypes)
      val peerCarry = if (needPeers) new KeyCarry(oIdx, oTypes) else null
      var anyRow = false
      val accs = new GraftColumnarWindowExec.Accumulators(ss, inTypes)
      var rkRowNum = 0L
      var rkRank = 0L
      var rkDense = 0L
      def reset(): Unit = {
        accs.reset()
        rkRowNum = 0L; rkRank = 0L; rkDense = 0L
      }
      val aggRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(nS)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outAll.map(_.dataType).toArray)
      // lag/lead (fn 12), sliding-in-mixed-node (fn 13), and exclusive
      // frames defer emission behind the consumption point; everything
      // else emits per row
      val maxLead = ss.foldLeft(0L) { (m, s) =>
        val lead =
          if (s.fn == 12) math.max(0L, s.off.toLong)
          else if (s.fn == 13) math.max(0L, s.sHi.toLong)
          else 0L
        math.max(m, lead)
      }
      val maxLag = ss.foldLeft(0L) { (m, s) =>
        val lag =
          if (s.fn == 12) math.max(0L, -s.off.toLong)
          else if (s.fn == 13) math.max(0L, -s.sLo.toLong)
          else 0L
        math.max(m, lag)
      }
      val anyExcl = ss.exists(_.excl)
      // +1 slot when exclusive frames read the PREVIOUS row's snapshot
      val cap = (maxLag + maxLead + 1L + (if (anyExcl) 1L else 0L)).toInt
      // fn 12/13 values are read from the ring even at offset 0 (lead(x, 0),
      // a CURRENT ROW..CURRENT ROW frame), so they always take it
      if (cap == 1 && !ss.exists(s => s.fn == 12 || s.fn == 13)) rows.map { row =>
        inM.add(1)
        val boundary = !anyRow || partCarry.differs(row)
        // peer-group start: partition change OR any ORDER BY key differs
        // (nulls are peers of nulls) — decided BEFORE carrying the keys
        val newPeer = boundary || (needPeers && peerCarry.differs(row))
        if (boundary) { reset(); grpM.add(1) }
        partCarry.carry(row)
        if (needPeers) peerCarry.carry(row)
        anyRow = true
        rkRowNum += 1
        if (boundary) { rkRank = 1; rkDense = 1 }
        else if (newPeer) { rkRank = rkRowNum; rkDense += 1 }
        accs.update(row)
        var s = 0
        while (s < nS) {
          ss(s).fn match {
            case 6 => aggRow.update(s, rkRowNum.toInt) // row_number
            case 7 => aggRow.update(s, rkRank.toInt) // rank
            case 8 => aggRow.update(s, rkDense.toInt) // dense_rank
            case _ => accs.write(aggRow, s)
          }
          s += 1
        }
        proj(joined(row, aggRow))
      }
      else {
        // ring + per-slot accumulator snapshots: lag/lead specs force
        // emission to lag consumption by maxLead rows, so running
        // values for row e must be e's — not the consumption point's —
        // accumulator state. Each consumed row snapshots the
        // accumulators into its ring slot; emission reads the snapshot
        // (the previous row's for exclusive frames) and the ring rows
        // for offsets. The GraftWindowOffsetExec state machine drives
        // consumption/flush.
        import org.apache.spark.sql.catalyst.expressions.UnsafeRow
        val ring = new Array[UnsafeRow](cap)
        val snaps = Array.fill(cap)(new GraftColumnarWindowExec.Accumulators(ss, inTypes))
        val snapRn = new Array[Long](cap)
        val snapRank = new Array[Long](cap)
        val snapDense = new Array[Long](cap)
        def snapshot(slot: Int): Unit = {
          snaps(slot).copyFrom(accs)
          snapRn(slot) = rkRowNum; snapRank(slot) = rkRank; snapDense(slot) = rkDense
        }
        def writeFromSnap(s: Int, slot: Int): Unit = ss(s).fn match {
          case 6 => aggRow.update(s, snapRn(slot).toInt)
          case 7 => aggRow.update(s, snapRank(slot).toInt)
          case 8 => aggRow.update(s, snapDense(slot).toInt)
          case _ => snaps(slot).write(aggRow, s)
        }
        /** Empty-accumulator output — an exclusive frame on the first
          * partition row. */
        def writeEmpty(s: Int): Unit = ss(s).fn match {
          case 1 | 5 => aggRow.update(s, 0L)
          case _ => aggRow.setNullAt(s)
        }
        /** Full consumption step for a row KNOWN to be in the current
          * partition (boundary handled by the caller). */
        def ingest(row: UnsafeRow, boundary: Boolean): Unit = {
          val newPeer = boundary || (needPeers && peerCarry.differs(row))
          partCarry.carry(row)
          if (needPeers) peerCarry.carry(row)
          anyRow = true
          rkRowNum += 1
          if (boundary) { rkRank = 1; rkDense = 1 }
          else if (newPeer) { rkRank = rkRowNum; rkDense += 1 }
          accs.update(row)
        }
        new Iterator[InternalRow] {
          private var cons = 0L
          private var emitE = 0L
          private var flushN = -1L
          private var held: UnsafeRow = _
          private def canEmit: Boolean = cons - emitE > maxLead
          private def store(row: UnsafeRow): Unit = {
            val slot = (cons % cap).toInt
            ring(slot) = row
            snapshot(slot)
            cons += 1
          }
          // the GraftWindowOffsetExec state machine — see its advance()
          // doc for why the boundary restart MUST loop
          private def advance(): Unit = {
            var looping = true
            while (looping) {
              looping = false
              if (flushN >= 0) {
                if (emitE < flushN) return
                flushN = -1; cons = 0; emitE = 0
                if (held != null) {
                  grpM.add(1)
                  reset()
                  ingest(held, boundary = true)
                  store(held)
                  held = null
                } else return
              }
              var boundary = false
              while (!canEmit && !boundary && rows.hasNext) {
                val row = rows.next().asInstanceOf[UnsafeRow].copy()
                inM.add(1)
                val newPart = !anyRow || partCarry.differs(row)
                if (anyRow && newPart) {
                  held = row
                  flushN = cons
                  boundary = true
                } else {
                  if (!anyRow) grpM.add(1)
                  if (newPart) reset()
                  ingest(row, boundary = newPart)
                  store(row)
                }
              }
              if (canEmit && flushN < 0) return
              if (boundary) {
                if (emitE < flushN) return
                looping = true
              } else if (cons > emitE) {
                flushN = cons
                return
              } else return
            }
          }
          override def hasNext: Boolean = {
            if ((flushN >= 0 && emitE < flushN) || canEmit) true
            else { advance(); (flushN >= 0 && emitE < flushN) || canEmit }
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            val bound = if (flushN >= 0) flushN else Long.MaxValue
            val e = emitE
            emitE += 1
            val se = (e % cap).toInt
            var s = 0
            while (s < nS) {
              val sp = ss(s)
              if (sp.fn == 12) {
                val t = e + sp.off
                if (t < 0 || t >= bound) aggRow.update(s, sp.dflt)
                else aggRow.update(s, readBoxed(ring((t % cap).toInt), sp.col, inTypes(s)))
              } else if (sp.fn == 13) {
                // sliding slice recompute over the ring (the dedicated
                // GraftWindowSlidingExec semantics, plus a string lane)
                val from = math.max(0L, e + sp.sLo)
                val to = math.min(bound - 1L, e + sp.sHi)
                if (sp.fn13IsCountStar) aggRow.update(s, math.max(0L, to - from + 1L))
                else {
                  var accL = 0L
                  var accD = 0.0
                  var accS: org.apache.spark.unsafe.types.UTF8String = null
                  var cnt = 0L
                  var seen = false
                  var t = from
                  while (t <= to) {
                    val r = ring((t % cap).toInt)
                    if (!r.isNullAt(sp.col)) {
                      sp.fn13Op match {
                        case 0 => // sum / avg accumulation
                          if (sp.lane == 0) {
                            val x = rowLong(r, sp.col, inTypes(s))
                            if (sp.ansi) {
                              try accL = Math.addExact(accL, x)
                              catch {
                                case _: ArithmeticException =>
                                  throw org.apache.spark.sql.errors.QueryExecutionErrors
                                    .arithmeticOverflowError("long overflow", "try_add", null)
                              }
                            } else accL += x
                          } else accD += rowDbl(r, sp.col, inTypes(s))
                        case 1 => // count(col): cnt below
                        case 4 =>
                          accD += (if (sp.lane == 0) rowLong(r, sp.col, inTypes(s)).toDouble
                            else rowDbl(r, sp.col, inTypes(s)))
                        case _ => // min / max (2 | 3)
                          if (sp.lane == 3) {
                            val x = r.getUTF8String(sp.col)
                            if (!seen || (if (sp.fn13Op == 2) x.compareTo(accS) < 0
                              else x.compareTo(accS) > 0)) accS = x
                          } else if (sp.lane == 0) {
                            val x = rowLong(r, sp.col, inTypes(s))
                            if (!seen || (if (sp.fn13Op == 2) x < accL else x > accL)) accL = x
                          } else {
                            val x = rowDbl(r, sp.col, inTypes(s))
                            val c = SQLOrderingUtil.compareDoubles(x, accD)
                            if (!seen || (if (sp.fn13Op == 2) c < 0 else c > 0)) accD = x
                          }
                      }
                      cnt += 1
                      seen = true
                    }
                    t += 1
                  }
                  sp.fn13Op match {
                    case 1 => aggRow.update(s, cnt)
                    case 4 =>
                      if (cnt > 0) aggRow.update(s, accD / cnt) else aggRow.setNullAt(s)
                    case _ =>
                      if (seen) {
                        if (sp.lane == 3) aggRow.update(s, accS)
                        else if (sp.lane == 0) emitLong(aggRow, s, sp.outType, accL)
                        else emitDbl(aggRow, s, sp.outType, accD)
                      } else aggRow.setNullAt(s)
                  }
                }
              } else if (sp.excl) {
                if (e == 0) writeEmpty(s)
                else writeFromSnap(s, ((e - 1) % cap).toInt)
              } else writeFromSnap(s, se)
              s += 1
            }
            proj(joined(ring(se), aggRow))
          }
        }
      }
    }
  }

  /** Deferred row face for RANGE-running (peer groups — the DEFAULT
    * frame under ORDER BY) and whole-partition frames: rows buffer in
    * Spark's own spill-backed ExternalAppendOnlyUnsafeRowArray until
    * the group closes (peer group or partition — the rule admits only
    * homogeneous kinds), then every buffered row emits the same closed
    * value. The buffer bound is ONE peer group for RANGE (ties —
    * usually tiny) vs the row WindowExec's whole partition; for
    * whole-partition frames both buffer the partition, with the same
    * spill machinery.
    */
  private def deferredRowPath(): RDD[InternalRow] = {
    val (inM, grpM) = (metrics("numInputRows"), metrics("numPartitionGroups"))
    val pIdx = partIdx.toArray
    val pTypes = partTypes.toArray
    val oIdx = orderIdx.toArray
    val oTypes = orderTypes.toArray
    val ss = specs.toArray
    val childOut = child.output
    val inTypes = ss.map(s => if (s.col >= 0) childOut(s.col).dataType else null)
    val outAll = output
    val byPeer = ss.head.kind == 1
    val inMemThreshold = conf.windowExecBufferInMemoryThreshold
    val spillThreshold = conf.windowExecBufferSpillThreshold
    val spillSizeThreshold = conf.windowExecBufferSpillSizeThreshold
    child.execute().mapPartitionsInternal { rows =>
      val nS = ss.length
      val partCarry = new KeyCarry(pIdx, pTypes)
      val peerCarry = if (byPeer) new KeyCarry(oIdx, oTypes) else null
      var anyRow = false
      val accs = new GraftColumnarWindowExec.Accumulators(ss, inTypes)
      val aggRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(nS)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outAll.map(_.dataType).toArray)
      new Iterator[InternalRow] {
        private val buffer = new org.apache.spark.sql.execution
          .ExternalAppendOnlyUnsafeRowArray(inMemThreshold, Long.MaxValue,
            spillThreshold, spillSizeThreshold)
        // release the last group's pages at task end — advance() only
        // clears on the NEXT group, so the final (or LIMIT-abandoned)
        // buffer would otherwise trip the executor's managed-memory-leak
        // warning at completion
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => buffer.clear()))
        private var emitIter: Iterator[org.apache.spark.sql.catalyst.expressions.UnsafeRow] =
          Iterator.empty
        private var held: org.apache.spark.sql.catalyst.expressions.UnsafeRow = _
        private var heldIsNewPartition = false
        private def advance(): Unit = {
          if (!rows.hasNext && held == null) return
          buffer.clear()
          if (held != null) {
            if (heldIsNewPartition) { accs.reset(); grpM.add(1) }
            accs.update(held)
            partCarry.carry(held)
            if (byPeer) peerCarry.carry(held)
            buffer.add(held)
            held = null
          }
          while (rows.hasNext) {
            val row = rows.next().asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
            inM.add(1)
            val newPart = !anyRow || partCarry.differs(row)
            val newPeer = byPeer && !newPart && buffer.length > 0 && peerCarry.differs(row)
            if (anyRow && (newPart || newPeer) && buffer.length > 0) {
              // close the current group BEFORE consuming this row
              held = row.copy()
              heldIsNewPartition = newPart
              accs.writeAll(aggRow)
              emitIter = buffer.generateIterator()
              return
            }
            if (newPart) { accs.reset(); grpM.add(1) }
            anyRow = true
            accs.update(row)
            partCarry.carry(row)
            if (byPeer) peerCarry.carry(row)
            buffer.add(row)
          }
          if (buffer.length > 0) {
            accs.writeAll(aggRow)
            emitIter = buffer.generateIterator()
          }
        }
        override def hasNext: Boolean = {
          if (emitIter.hasNext) true
          else { advance(); emitIter.hasNext }
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          proj(joined(emitIter.next(), aggRow))
        }
      }
    }
  }

  /** Size-based row face — any spec is ntile/percent_rank/cume_dist
    * (fn 14-16): their value depends on the PARTITION row count `n`.
    *
    * When the child is a [[GraftGroupedSortExec]] (the usual shape: the
    * rule swaps the window's in-partition sort), its iterator reports
    * `n` at a group's first row for the group it sorted on its own
    * ORDER BY keys, and the group streams:
    *  - kind-0 nodes (ntile/percent_rank + streaming aggs/ranking)
    *    buffer nothing — ntile buckets and percent_rank close at the
    *    row once `n` is known;
    *  - kind-1 nodes (cume_dist + RANGE-running aggs) read one peer
    *    group ahead into Spark's spill-backed
    *    ExternalAppendOnlyUnsafeRowArray, accumulating it as it is read
    *    — cume_dist = peer-end row number / n, and the accumulators
    *    hold the group-closed values — then emit it.
    *
    * A group of unknown size (any other child, or a task's further
    * partition keys, which the sort orders by the full key) buffers
    * whole in that array first, as the row WindowExec does for
    * SizeBasedWindowFunction. Emission then walks the buffer once per
    * cursor: kind-0 nodes with one cursor, kind-1 nodes with a second
    * sequential SCOUT cursor one peer group ahead of emission doing
    * the accumulation. Both cursors are strictly sequential (a spilled
    * buffer pays two ordered reads, never per-row reader churn).
    * `spark.sql.windowExec.buffer.*` bounds every buffer here, peer
    * groups included.
    *
    * A/B of the buffered form (FilterMicroBench winsize-*, sf0.1, 3
    * runs of min-of-5): ntile(10)+percent_rank+rank over 3 giant
    * partitions 0.85-0.94x; cume_dist+RANGE-running sum/count over ~50
    * fat peer groups 0.99-1.04x — win-to-parity, ON by default.
    */
  private def sizeBasedRowPath(): RDD[InternalRow] = {
    val (inM, grpM) = (metrics("numInputRows"), metrics("numPartitionGroups"))
    val streamM = metrics("numStreamedGroups")
    val pIdx = partIdx.toArray
    val pTypes = partTypes.toArray
    val oIdx = orderIdx.toArray
    val oTypes = orderTypes.toArray
    val ss = specs.toArray
    val childOut = child.output
    val inTypes = ss.map(s => if (s.col >= 0) childOut(s.col).dataType else null)
    val outAll = output
    val kind1 = ss.exists(_.kind == 1)
    val inMemThreshold = conf.windowExecBufferInMemoryThreshold
    val spillThreshold = conf.windowExecBufferSpillThreshold
    val spillSizeThreshold = conf.windowExecBufferSpillSizeThreshold
    child.execute().mapPartitionsInternal { rows =>
      val nS = ss.length
      val partCarry = new KeyCarry(pIdx, pTypes)
      // ranking (7/8) and percent_rank need peer detection on the
      // emission cursor; kind-1 nodes detect peers to drive the scout
      val needPeers = kind1 || ss.exists(s => s.fn == 7 || s.fn == 8 || s.fn == 15)
      val peerCarry = if (needPeers) new KeyCarry(oIdx, oTypes) else null
      val accs = new GraftColumnarWindowExec.Accumulators(ss, inTypes)
      val aggRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(nS)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outAll.map(_.dataType).toArray)
      /** Spark NTile bucketing: n/b even buckets, the first n%b take one
        * extra row (when n < b every row is its own bucket). */
      def ntileBucket(rowNum: Long, n: Long, b: Int): Int = {
        val bucketSize = n / b
        val rem = n % b
        val idx0 = rowNum - 1
        val thresh = rem * (bucketSize + 1)
        if (idx0 < thresh) (idx0 / (bucketSize + 1) + 1).toInt
        else (rem + (idx0 - thresh) / bucketSize + 1).toInt
      }
      new Iterator[InternalRow] {
        private type Row = org.apache.spark.sql.catalyst.expressions.UnsafeRow
        private val sizes = rows match {
          case g: SizedGroupIterator => g
          case _ => null
        }
        private def sizeOfLast: Long = if (sizes == null) -1L else sizes.groupSize
        // the partition (size unknown) or the current peer group (size
        // known, kind 1)
        private val buffer = new org.apache.spark.sql.execution
          .ExternalAppendOnlyUnsafeRowArray(inMemThreshold, Long.MaxValue,
            spillThreshold, spillSizeThreshold)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => buffer.clear()))
        private var emitIter: Iterator[Row] = Iterator.empty
        private var scout: Iterator[Row] = _
        private var scoutPending: Row = _
        private var held: Row = _
        private var heldSize = -1L
        private var streamed = false
        // rows of a streamed group not yet read from the input
        private var left = 0L
        private var n = 0L
        private var rowNum = 0L
        private var rkRank = 0L
        private var rkDense = 0L
        private var scoutPos = 0L
        private def input(): Row = {
          inM.add(1)
          rows.next().asInstanceOf[Row]
        }
        private def advancePartition(): Unit = {
          if (!rows.hasNext && held == null) { emitIter = Iterator.empty; return }
          accs.reset()
          rowNum = 0L; rkRank = 0L; rkDense = 0L
          scoutPos = 0L; scoutPending = null
          val first = if (held != null) held else input()
          val size = if (held != null) heldSize else sizeOfLast
          held = null
          grpM.add(1)
          if (streamed && !partCarry.differs(first))
            throw new IllegalStateException("a sized group ended inside a window partition")
          partCarry.carry(first)
          streamed = size > 0
          n = size
          if (streamed) {
            // the sort below counted the group: stream it, keeping at
            // most the current peer group (kind 1) as look-ahead
            streamM.add(1)
            left = size - 1
            emitIter = if (kind1) peerGroups(first) else Iterator.single(first) ++ streamRest
          } else {
            buffer.clear()
            buffer.add(first)
            var open = true
            while (open && rows.hasNext) {
              val row = input()
              if (partCarry.differs(row)) {
                held = row.copy(); heldSize = sizeOfLast; open = false
              } else { partCarry.carry(row); buffer.add(row) }
            }
            n = buffer.length
            // all writes to the buffer are done — BOTH iterators below see
            // a frozen array (EAOURA invalidates iterators on modification,
            // not on sibling iterator creation)
            emitIter = buffer.generateIterator()
            scout = if (kind1) buffer.generateIterator() else null
          }
        }
        /** The next input row of a streamed group; its last row must
          * still carry the group's partition key. */
        private def groupInput(): Row = {
          left -= 1
          val r = input()
          if (left == 0 && partCarry.differs(r))
            throw new IllegalStateException("a window partition ended inside a sized group")
          r
        }
        /** The rest of a streamed group, read straight from the input. */
        private def streamRest: Iterator[Row] = new Iterator[Row] {
          override def hasNext: Boolean = left > 0
          override def next(): Row = groupInput()
        }
        /** A streamed kind-1 group, one peer group at a time: reading a
          * peer group into the buffer accumulates it (the scout's job
          * on the buffered path), then its rows are emitted with the
          * group-closed values. */
        private def peerGroups(first: Row): Iterator[Row] = new Iterator[Row] {
          private var nextPeer: Row = first
          private var it: Iterator[Row] = Iterator.empty
          override def hasNext: Boolean = it.hasNext || nextPeer != null
          override def next(): Row = {
            if (!it.hasNext) fill()
            it.next()
          }
          private def fill(): Unit = {
            buffer.clear()
            peerCarry.carry(nextPeer); buffer.add(nextPeer); accs.update(nextPeer); scoutPos += 1
            nextPeer = null
            while (nextPeer == null && left > 0) {
              val r = groupInput()
              if (peerCarry.differs(r)) nextPeer = r.copy()
              else { buffer.add(r); accs.update(r); scoutPos += 1 }
            }
            accs.writeAll(aggRow)
            writeCumeDist()
            it = buffer.generateIterator()
          }
        }
        private def writeCumeDist(): Unit = {
          var s = 0
          while (s < nS) {
            if (ss(s).fn == 16) aggRow.update(s, scoutPos.toDouble / n)
            s += 1
          }
        }
        /** Accumulate the scout through the emission row's whole peer
          * group (peerCarry holds its keys); leaves the first
          * non-peer row pending for the next group. */
        private def scoutThroughPeers(): Unit = {
          var scanning = true
          while (scanning) {
            if (scoutPending != null) {
              if (peerCarry.differs(scoutPending)) scanning = false
              else { accs.update(scoutPending); scoutPos += 1; scoutPending = null }
            } else if (scout.hasNext) {
              val sr = scout.next()
              if (peerCarry.differs(sr)) { scoutPending = sr.copy(); scanning = false }
              else { accs.update(sr); scoutPos += 1 }
            } else scanning = false
          }
        }
        override def hasNext: Boolean = {
          if (emitIter.hasNext) true
          else { advancePartition(); emitIter.hasNext }
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = emitIter.next()
          rowNum += 1
          if (kind1) {
            // peer-group-closed values: on a buffered partition the
            // scout accumulates through this group's end exactly once,
            // at its first row (a streamed group did so reading it)
            if (!streamed && (rowNum == 1L || peerCarry.differs(r))) {
              peerCarry.carry(r)
              scoutThroughPeers()
              accs.writeAll(aggRow)
              writeCumeDist()
            }
          } else {
            val newPeer = needPeers && (rowNum == 1L || peerCarry.differs(r))
            if (newPeer) { peerCarry.carry(r); rkRank = rowNum; rkDense += 1 }
            accs.update(r)
            accs.writeAll(aggRow)
            var s = 0
            while (s < nS) {
              ss(s).fn match {
                case 6 => aggRow.update(s, rowNum.toInt) // row_number
                case 7 => aggRow.update(s, rkRank.toInt) // rank
                case 8 => aggRow.update(s, rkDense.toInt) // dense_rank
                case 14 => aggRow.update(s, ntileBucket(rowNum, n, ss(s).nth))
                case 15 => aggRow.update(s, // percent_rank
                  if (n > 1L) (rkRank - 1L).toDouble / (n - 1L).toDouble else 0.0)
                case _ =>
              }
              s += 1
            }
          }
          proj(joined(r, aggRow))
        }
      }
    }
  }

  /** Suffix-frame row face — every spec's frame is CURRENT ROW ..
    * UNBOUNDED FOLLOWING (kind 3 = ROWS: each row gets its own suffix;
    * kind 4 = RANGE: the frame opens at the row's FIRST PEER, so a peer
    * group shares its head row's value; one node may mix both). Spark's
    * UnboundedFollowingWindowFunctionFrame RECOMPUTES the aggregate
    * from scratch for every output row — O(n^2) per partition (the
    * reason "remaining total" queries are folk-rewritten as a reverse
    * sort + running frame) — while every admitted lane (non-ANSI
    * integral sum, count, count(*), long/double min/max) is
    * ASSOCIATIVE, so suffix values combine from per-block aggregates in
    * O(n):
    *  - the partition buffers in Spark's own spill-backed
    *    ExternalAppendOnlyUnsafeRowArray (exactly the row WindowExec's
    *    bound for this frame);
    *  - pass 1 (forward): one aggregate per `blockRows`-row block, then
    *    blockSuf(b) right-to-left combines block b's aggregate with
    *    blockSuf(b+1) — n/blockRows entries;
    *  - pass 2 (forward emission): a stager iterator one block ahead of
    *    the emitter loads the block's 9 B/row primitive values, seeds
    *    the block-suffix state from blockSuf(b+1), and writes each
    *    row's final value right-to-left; the emitter then joins rows
    *    with their staged values in input order.
    * Heap beyond the shared spill-backed buffer: O(blockRows x specs)
    * staging + O(n/blockRows x specs) block accumulators — bounded, not
    * data-proportional. Doubles are admitted for min/max only
    * (associative, no accumulation); double/ANSI sums and avg keep the
    * row path (block association changes result bits / the overflow
    * position). ANSI long sums ARE admitted: a partition where every
    * |v| <= 2^41 and n <= 2^21 cannot overflow any partial sum in any
    * order (plain adds equal addExact, the row path cannot throw), and
    * a partition past the bound runs an exact BigInteger lane — per-
    * block (sum, maxPrefix, minPrefix) triples, suffix-combined, then a
    * staged right-to-left walk deriving each row's true suffix sum and
    * its LEFT-TO-RIGHT prefix extrema, so a row throws exactly where
    * the row path's addExact would (e.g. [1, Long.Max, -10]: the first
    * row's prefix 1 + Max overflows even though its total fits — a
    * naive suffix-order combine would return a value where Spark
    * throws). Iterating the frozen buffer with sibling iterators is
    * the size-based face's scout pattern.
    *
    * The fn-10 (last) pass-1 holders are UNBOXED for long/double-family
    * inputs (primitive per-spec slots, re-materialized once at
    * emission); strings keep the boxed holder (the UTF8String must be
    * cloned out of the reused row regardless), so only string lanes pay
    * O(n) short-lived pass-1 allocations. The fn-9 lanes box only
    * staged blocks.
    *
    * A/B (FilterMicroBench winsuf-*, sf0.01, 3 runs of min-of-5):
    * ~600-row partitions 0.34-0.37x (winsuf-remaining) and 0.34-0.39x
    * on the fn-10+backfill shape (winsuf-bfill, re-measured after the
    * pass-1 holders unboxed); ~20k-row hot partitions 0.01-0.02x =
    * 65-80x faster — and the gap grows linearly with partition size
    * (the row side is quadratic), so at 100 TB hot partitions this is
    * the difference between finishing and not. ON by default.
    */
  private def suffixRowPath(): RDD[InternalRow] = {
    val (inM, grpM) = (metrics("numInputRows"), metrics("numPartitionGroups"))
    val pIdx = partIdx.toArray
    val pTypes = partTypes.toArray
    val oIdx = orderIdx.toArray
    val oTypes = orderTypes.toArray
    val ss = specs.toArray
    val childOut = child.output
    val inTypes = ss.map(s => if (s.col >= 0) childOut(s.col).dataType else null)
    val outAll = output
    val byPeer = ss.exists(_.kind == 4)
    val inMemThreshold = conf.windowExecBufferInMemoryThreshold
    val spillThreshold = conf.windowExecBufferSpillThreshold
    val spillSizeThreshold = conf.windowExecBufferSpillSizeThreshold
    val blockRows = conf.getConfString(
      GraftColumnarWindowExec.suffixBlockRowsKey, "4096").toInt
    child.execute().mapPartitionsInternal { rows =>
      val nS = ss.length
      val partCarry = new KeyCarry(pIdx, pTypes)
      val peerCarry = if (byPeer) new KeyCarry(oIdx, oTypes) else null
      val aggRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(nS)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outAll.map(_.dataType).toArray)
      // per-spec block-suffix accumulators (sized to the partition's
      // block count, grown on demand, suffix-combined in place) and
      // per-block staging (the block's input values + each row's FINAL
      // output value/null)
      val sufL = Array.ofDim[Array[Long]](nS)
      val sufD = Array.ofDim[Array[Double]](nS)
      val sufSeen = Array.ofDim[Array[Boolean]](nS)
      val stgL = new Array[Array[Long]](nS)
      val stgD = new Array[Array[Double]](nS)
      val stgNull = new Array[Array[Boolean]](nS)
      val outL = new Array[Array[Long]](nS)
      val outD = new Array[Array[Double]](nS)
      val outNull = new Array[Array[Boolean]](nS)
      // kind-4 latch: the value written at the peer group's head row
      val latchL = new Array[Long](nS)
      val latchD = new Array[Double](nS)
      val latchNull = new Array[Boolean](nS)
      val latchThrow = new Array[Boolean](nS)
      // ANSI long sums: the SAFE-BOUND fast path (every |v| <= 2^41 and
      // n <= 2^21 means no partial sum of ANY subset in ANY order can
      // leave [-2^62, 2^62] — plain adds equal addExact and the row
      // path cannot throw either, so the modular block combine is
      // exact). A partition violating the bound runs the EXACT lane:
      // per-block BigInteger (sum, maxPrefix, minPrefix) triples,
      // suffix-combined, then a right-to-left staged walk deriving each
      // row's true suffix sum and its prefix extrema — row k throws
      // exactly when the row path's left-to-right addExact from k would
      // (its max/min true prefix leaves the long range), at the same
      // ascending emission position.
      import java.math.BigInteger
      val hasAnsi = ss.exists(s => s.fn == 0 && s.ansi)
      val bigSum = new Array[Array[BigInteger]](nS)
      val bigMaxP = new Array[Array[BigInteger]](nS)
      val bigMinP = new Array[Array[BigInteger]](nS)
      val outThrow = new Array[Array[Boolean]](nS)
      val LONG_MAX = BigInteger.valueOf(Long.MaxValue)
      val LONG_MIN = BigInteger.valueOf(Long.MinValue)
      var ansiExact = false
      // fn 9/10 boxed lanes: first over the suffix (BACKFILL when
      // ignoreNulls) stages boxed values and carries the next non-null
      // right-to-left; last over the suffix is the partition tail's
      // (non-null) value — one holder per spec, no staging at all
      val stgA = new Array[Array[Any]](nS)
      val outA = new Array[Array[Any]](nS)
      val sufA = new Array[Array[Any]](nS)
      val latchA = new Array[Any](nS)
      val lastVal = new Array[Any](nS)
      val lastNNVal = new Array[Any](nS)
      val lastNNIdx = new Array[Long](nS)
      // fn-10 UNBOXED pass-1 holders: readBoxed would allocate one box
      // per input row; long/double-family inputs hold the primitive and
      // re-materialize once at emission. Strings keep the boxed holder
      // (the UTF8String must be cloned out of the reused row anyway);
      // decimals too (unscaled+scale re-assembly buys nothing).
      // lane: 0 = long-family primitive, 1 = double-family, -1 = boxed.
      val lastUb: Array[Int] = Array.tabulate(nS) { t0 =>
        if (ss(t0).fn != 10) -1
        else inTypes(t0) match {
          case ByteType | ShortType | IntegerType | LongType | BooleanType |
              DateType | TimestampType | TimestampNTZType => 0
          case DoubleType | FloatType => 1
          case _ => -1
        }
      }
      val lastPL = new Array[Long](nS)
      val lastPD = new Array[Double](nS)
      val lastPNull = new Array[Boolean](nS)
      val lastNNPL = new Array[Long](nS)
      val lastNNPD = new Array[Double](nS)
      var s0 = 0
      while (s0 < nS) {
        val sp = ss(s0)
        if (sp.fn == 9) {
          stgNull(s0) = new Array[Boolean](blockRows)
          stgA(s0) = new Array[Any](blockRows)
          outA(s0) = new Array[Any](blockRows)
        } else if (sp.fn != 5 && sp.fn != 10) {
          stgNull(s0) = new Array[Boolean](blockRows)
          if (sp.lane == 1) stgD(s0) = new Array[Double](blockRows)
          else stgL(s0) = new Array[Long](blockRows)
        }
        outNull(s0) = new Array[Boolean](blockRows)
        if (sp.lane == 1) outD(s0) = new Array[Double](blockRows)
        else if (sp.fn != 9) outL(s0) = new Array[Long](blockRows)
        if (sp.fn == 0 && sp.ansi) outThrow(s0) = new Array[Boolean](blockRows)
        s0 += 1
      }
      new Iterator[InternalRow] {
        private val buffer = new org.apache.spark.sql.execution
          .ExternalAppendOnlyUnsafeRowArray(inMemThreshold, Long.MaxValue,
            spillThreshold, spillSizeThreshold)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => buffer.clear()))
        private var emitIter: Iterator[org.apache.spark.sql.catalyst.expressions.UnsafeRow] =
          Iterator.empty
        private var stager: Iterator[org.apache.spark.sql.catalyst.expressions.UnsafeRow] = _
        private var held: org.apache.spark.sql.catalyst.expressions.UnsafeRow = _
        private var n = 0L
        private var nBlocks = 0
        private var emitPos = 0L
        private var stagedBlock = -1
        private var anyPeerYet = false
        private def advancePartition(): Unit = {
          if (!rows.hasNext && held == null) { emitIter = Iterator.empty; return }
          buffer.clear()
          emitPos = 0L; stagedBlock = -1; anyPeerYet = false
          var ansiBig = false
          if (held != null) { partCarry.carry(held); buffer.add(held); held = null }
          var open = true
          while (open && rows.hasNext) {
            val row = rows.next().asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
            inM.add(1)
            if (buffer.length > 0 && partCarry.differs(row)) {
              held = row.copy(); open = false
            } else { partCarry.carry(row); buffer.add(row) }
          }
          n = buffer.length
          grpM.add(1)
          nBlocks = ((n + blockRows - 1) / blockRows).toInt
          var s = 0
          while (s < nS) {
            if (sufL(s) == null || sufL(s).length < nBlocks) {
              sufL(s) = new Array[Long](nBlocks)
              sufD(s) = new Array[Double](nBlocks)
              sufSeen(s) = new Array[Boolean](nBlocks)
            }
            if (ss(s).fn == 9 && ss(s).ign &&
              (sufA(s) == null || sufA(s).length < nBlocks))
              sufA(s) = new Array[Any](nBlocks)
            lastVal(s) = null; lastNNVal(s) = null; lastNNIdx(s) = -1L
            lastPNull(s) = true
            // safe-bound ANSI partitions share outThrow with the exact
            // lane; clear flags a prior exact-lane partition in this
            // task left behind (emission reads them at latch heads and
            // would throw a spurious overflow). Once per partition —
            // the safe lane never writes outThrow, so a per-block
            // clear would be redundant O(blocks*blockRows) work.
            if (outThrow(s) != null)
              java.util.Arrays.fill(outThrow(s), false)
            s += 1
          }
          // pass 1 — per-block aggregates (forward; all lanes are
          // associative so forward build order is free)
          val scan = buffer.generateIterator()
          var i = 0L
          var b = 0
          val accL = new Array[Long](nS)
          val accCnt = new Array[Long](nS)
          val accD = new Array[Double](nS)
          val accSeen = new Array[Boolean](nS)
          val accFirst = new Array[Any](nS)
          def flushBlock(): Unit = {
            var t = 0
            while (t < nS) {
              val sp = ss(t)
              sp.fn match {
                case 1 | 5 => sufL(t)(b) = accCnt(t); sufSeen(t)(b) = true
                case 9 =>
                  if (sp.ign) { sufA(t)(b) = accFirst(t); accFirst(t) = null }
                case 10 => ()
                case _ =>
                  sufSeen(t)(b) = accSeen(t)
                  if (sp.lane == 1) sufD(t)(b) = accD(t) else sufL(t)(b) = accL(t)
              }
              accCnt(t) = 0L; accL(t) = 0L; accD(t) = 0.0; accSeen(t) = false
              t += 1
            }
          }
          while (scan.hasNext) {
            val r = scan.next()
            var t = 0
            while (t < nS) {
              val sp = ss(t)
              sp.fn match {
                case 5 => accCnt(t) += 1
                case 1 => if (!r.isNullAt(sp.col)) accCnt(t) += 1
                case 0 =>
                  if (!r.isNullAt(sp.col)) {
                    val x = rowLong(r, sp.col, inTypes(t))
                    accL(t) += x; accSeen(t) = true
                    if (sp.ansi && (x > GraftWindowSlidingExec.ansiSafeAbs ||
                      x < -GraftWindowSlidingExec.ansiSafeAbs)) ansiBig = true
                  }
                case 9 => // first: ign needs the block's first non-null
                  if (sp.ign && accFirst(t) == null && !r.isNullAt(sp.col))
                    accFirst(t) = readBoxed(r, sp.col, inTypes(t))
                case 10 => // last: the partition tail's value
                  if (sp.ign) {
                    if (!r.isNullAt(sp.col)) {
                      lastUb(t) match {
                        case 0 => lastNNPL(t) = rowLong(r, sp.col, inTypes(t))
                        case 1 => lastNNPD(t) = rowDbl(r, sp.col, inTypes(t))
                        case _ => lastNNVal(t) = readBoxed(r, sp.col, inTypes(t))
                      }
                      lastNNIdx(t) = i
                    }
                  } else if (lastUb(t) >= 0) {
                    val nl = r.isNullAt(sp.col)
                    lastPNull(t) = nl
                    if (!nl) {
                      if (lastUb(t) == 0) lastPL(t) = rowLong(r, sp.col, inTypes(t))
                      else lastPD(t) = rowDbl(r, sp.col, inTypes(t))
                    }
                  } else lastVal(t) = readBoxed(r, sp.col, inTypes(t))
                case _ => // 2 | 3 min/max
                  if (!r.isNullAt(sp.col)) {
                    if (sp.lane == 1) {
                      val x = rowDbl(r, sp.col, inTypes(t))
                      val c = SQLOrderingUtil.compareDoubles(x, accD(t))
                      if (!accSeen(t) || (if (sp.fn == 2) c < 0 else c > 0)) accD(t) = x
                    } else {
                      val x = rowLong(r, sp.col, inTypes(t))
                      if (!accSeen(t) ||
                        (if (sp.fn == 2) x < accL(t) else x > accL(t))) accL(t) = x
                    }
                    accSeen(t) = true
                  }
              }
              t += 1
            }
            i += 1
            if (i % blockRows == 0) { flushBlock(); b += 1 }
          }
          if (i % blockRows != 0) flushBlock()
          // right-to-left block-suffix combine, in place
          var bb = nBlocks - 2
          while (bb >= 0) {
            var t = 0
            while (t < nS) {
              val sp = ss(t)
              sp.fn match {
                case 1 | 5 => sufL(t)(bb) += sufL(t)(bb + 1)
                case 0 =>
                  sufL(t)(bb) += sufL(t)(bb + 1)
                  sufSeen(t)(bb) = sufSeen(t)(bb) || sufSeen(t)(bb + 1)
                case 9 =>
                  if (sp.ign && sufA(t)(bb) == null) sufA(t)(bb) = sufA(t)(bb + 1)
                case 10 => ()
                case _ =>
                  if (sufSeen(t)(bb + 1)) {
                    if (!sufSeen(t)(bb)) {
                      if (sp.lane == 1) sufD(t)(bb) = sufD(t)(bb + 1)
                      else sufL(t)(bb) = sufL(t)(bb + 1)
                      sufSeen(t)(bb) = true
                    } else if (sp.lane == 1) {
                      val c = SQLOrderingUtil.compareDoubles(sufD(t)(bb + 1), sufD(t)(bb))
                      if (if (sp.fn == 2) c < 0 else c > 0) sufD(t)(bb) = sufD(t)(bb + 1)
                    } else {
                      val x = sufL(t)(bb + 1)
                      if (if (sp.fn == 2) x < sufL(t)(bb) else x > sufL(t)(bb))
                        sufL(t)(bb) = x
                    }
                  }
              }
              t += 1
            }
            bb -= 1
          }
          // EXACT ANSI lane (rare: |v| > 2^41 seen or n > 2^21): one
          // more sequential scan builds per-block BigInteger
          // (sum, maxPrefix, minPrefix) triples, then the right-to-left
          // combine turns them into block-START suffix triples — the
          // stage walk's cross-block seeds
          ansiExact = hasAnsi && (ansiBig || n > (1L << 21))
          if (ansiExact) {
            var t = 0
            while (t < nS) {
              val sp = ss(t)
              if (sp.fn == 0 && sp.ansi) {
                if (bigSum(t) == null || bigSum(t).length < nBlocks) {
                  bigSum(t) = new Array[BigInteger](nBlocks)
                  bigMaxP(t) = new Array[BigInteger](nBlocks)
                  bigMinP(t) = new Array[BigInteger](nBlocks)
                }
              }
              t += 1
            }
            val scan2 = buffer.generateIterator()
            var i2 = 0L
            var b2 = 0
            val curS = Array.fill[BigInteger](nS)(BigInteger.ZERO)
            val curMx = new Array[BigInteger](nS)
            val curMn = new Array[BigInteger](nS)
            def flush2(): Unit = {
              var t = 0
              while (t < nS) {
                if (ss(t).fn == 0 && ss(t).ansi) {
                  bigSum(t)(b2) = curS(t)
                  bigMaxP(t)(b2) = curMx(t)
                  bigMinP(t)(b2) = curMn(t)
                  curS(t) = BigInteger.ZERO; curMx(t) = null; curMn(t) = null
                }
                t += 1
              }
            }
            while (scan2.hasNext) {
              val r = scan2.next()
              var t = 0
              while (t < nS) {
                val sp = ss(t)
                if (sp.fn == 0 && sp.ansi && !r.isNullAt(sp.col)) {
                  curS(t) = curS(t).add(
                    BigInteger.valueOf(rowLong(r, sp.col, inTypes(t))))
                  if (curMx(t) == null || curS(t).compareTo(curMx(t)) > 0)
                    curMx(t) = curS(t)
                  if (curMn(t) == null || curS(t).compareTo(curMn(t)) < 0)
                    curMn(t) = curS(t)
                }
                t += 1
              }
              i2 += 1
              if (i2 % blockRows == 0) { flush2(); b2 += 1 }
            }
            if (i2 % blockRows != 0) flush2()
            var b3 = nBlocks - 2
            while (b3 >= 0) {
              var t = 0
              while (t < nS) {
                if (ss(t).fn == 0 && ss(t).ansi) {
                  val sBlk = bigSum(t)(b3)
                  val nextMx = bigMaxP(t)(b3 + 1)
                  val nextMn = bigMinP(t)(b3 + 1)
                  if (nextMx != null) {
                    val shifted = sBlk.add(nextMx)
                    if (bigMaxP(t)(b3) == null ||
                      shifted.compareTo(bigMaxP(t)(b3)) > 0) bigMaxP(t)(b3) = shifted
                  }
                  if (nextMn != null) {
                    val shifted = sBlk.add(nextMn)
                    if (bigMinP(t)(b3) == null ||
                      shifted.compareTo(bigMinP(t)(b3)) < 0) bigMinP(t)(b3) = shifted
                  }
                  bigSum(t)(b3) = sBlk.add(bigSum(t)(b3 + 1))
                }
                t += 1
              }
              b3 -= 1
            }
          }
          stager = buffer.generateIterator()
          emitIter = buffer.generateIterator()
        }
        /** Load block `b`'s values through the stager (it is positioned
          * exactly at the block's first row) and write each row's FINAL
          * suffix value right-to-left, seeded by blockSuf(b+1). */
        private def stageBlock(b: Int): Unit = {
          val start = b.toLong * blockRows
          val len = (math.min(n, start + blockRows) - start).toInt
          var j = 0
          while (j < len) {
            val r = stager.next()
            var t = 0
            while (t < nS) {
              val sp = ss(t)
              if (sp.fn == 9) {
                val nl = r.isNullAt(sp.col)
                stgNull(t)(j) = nl
                stgA(t)(j) = if (nl) null else readBoxed(r, sp.col, inTypes(t))
              } else if (sp.fn != 5 && sp.fn != 10) {
                val nl = r.isNullAt(sp.col)
                stgNull(t)(j) = nl
                if (!nl) {
                  if (sp.lane == 1) stgD(t)(j) = rowDbl(r, sp.col, inTypes(t))
                  else stgL(t)(j) = rowLong(r, sp.col, inTypes(t))
                }
              }
              t += 1
            }
            j += 1
          }
          var t = 0
          while (t < nS) {
            val sp = ss(t)
            val hasNext = b + 1 < nBlocks
            if (sp.fn == 9) {
              if (sp.ign) {
                // BACKFILL: next non-null at or after each row, carried
                // right-to-left, seeded by the suffix blocks' first
                var carry: Any = if (hasNext) sufA(t)(b + 1) else null
                var k = len - 1
                while (k >= 0) {
                  if (!stgNull(t)(k)) carry = stgA(t)(k)
                  outA(t)(k) = carry
                  outNull(t)(k) = carry == null
                  k -= 1
                }
              } else {
                // first over [k, end] without ignoreNulls IS row k's
                // value (possibly null)
                var k = 0
                while (k < len) {
                  outA(t)(k) = stgA(t)(k)
                  outNull(t)(k) = stgNull(t)(k)
                  k += 1
                }
              }
              t += 1
            } else if (sp.fn == 10) {
              t += 1 // emission computes from the partition holders
            } else if (sp.fn == 0 && sp.ansi && ansiExact) {
              // exact ANSI walk: true suffix sum S plus the max/min of
              // the row path's left-to-right true prefixes —
              //   Mrow(k) = v(k) + max(0, Mrow(k+1))   (null v: carry)
              // a row throws exactly when its extrema leave long range
              var s2: BigInteger = if (hasNext) bigSum(t)(b + 1) else BigInteger.ZERO
              var mx: BigInteger = if (hasNext) bigMaxP(t)(b + 1) else null
              var mn: BigInteger = if (hasNext) bigMinP(t)(b + 1) else null
              var k = len - 1
              while (k >= 0) {
                if (!stgNull(t)(k)) {
                  val v = BigInteger.valueOf(stgL(t)(k))
                  s2 = s2.add(v)
                  mx = v.add(if (mx == null || mx.signum() <= 0) BigInteger.ZERO else mx)
                  mn = v.add(if (mn == null || mn.signum() >= 0) BigInteger.ZERO
                    else mn)
                }
                if (mx == null) { // no non-null values in the suffix
                  outNull(t)(k) = true; outThrow(t)(k) = false
                } else if (mx.compareTo(LONG_MAX) > 0 || mn.compareTo(LONG_MIN) < 0) {
                  outNull(t)(k) = false; outThrow(t)(k) = true
                } else {
                  outNull(t)(k) = false; outThrow(t)(k) = false
                  outL(t)(k) = s2.longValue()
                }
                k -= 1
              }
              t += 1
            } else {
            // (stale outThrow flags from a prior exact-lane partition
            // are cleared once at partition reset in advancePartition)
            var accL = if (hasNext) sufL(t)(b + 1) else 0L
            var accD = if (hasNext) sufD(t)(b + 1) else 0.0
            var seen = hasNext && sufSeen(t)(b + 1)
            var cnt = if (hasNext && (sp.fn == 1 || sp.fn == 5)) sufL(t)(b + 1) else 0L
            var k = len - 1
            while (k >= 0) {
              sp.fn match {
                case 5 =>
                  cnt += 1
                  outL(t)(k) = cnt; outNull(t)(k) = false
                case 1 =>
                  if (!stgNull(t)(k)) cnt += 1
                  outL(t)(k) = cnt; outNull(t)(k) = false
                case 0 =>
                  if (!stgNull(t)(k)) { accL += stgL(t)(k); seen = true }
                  if (seen) { outL(t)(k) = accL; outNull(t)(k) = false }
                  else outNull(t)(k) = true
                case _ => // 2 | 3
                  if (!stgNull(t)(k)) {
                    if (sp.lane == 1) {
                      val x = stgD(t)(k)
                      val c = SQLOrderingUtil.compareDoubles(x, accD)
                      if (!seen || (if (sp.fn == 2) c < 0 else c > 0)) accD = x
                    } else {
                      val x = stgL(t)(k)
                      if (!seen || (if (sp.fn == 2) x < accL else x > accL)) accL = x
                    }
                    seen = true
                  }
                  if (seen) {
                    if (sp.lane == 1) outD(t)(k) = accD else outL(t)(k) = accL
                    outNull(t)(k) = false
                  } else outNull(t)(k) = true
              }
              k -= 1
            }
            t += 1
            }
          }
          stagedBlock = b
        }
        override def hasNext: Boolean = {
          if (emitIter.hasNext) true
          else { advancePartition(); emitIter.hasNext }
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = emitIter.next()
          val i = emitPos
          emitPos += 1
          val b = (i / blockRows).toInt
          if (b != stagedBlock) stageBlock(b)
          val j = (i - b.toLong * blockRows).toInt
          val newPeer = byPeer && (!anyPeerYet || peerCarry.differs(r))
          if (byPeer && newPeer) { peerCarry.carry(r); anyPeerYet = true }
          var t = 0
          while (t < nS) {
            val sp = ss(t)
            val useLatch = sp.kind == 4
            def reboxPrim(fromNN: Boolean): Any =
              if (lastUb(t) == 1) {
                val d = if (fromNN) lastNNPD(t) else lastPD(t)
                if (inTypes(t) == FloatType) d.toFloat else d
              } else {
                val v = if (fromNN) lastNNPL(t) else lastPL(t)
                inTypes(t) match {
                  case IntegerType | DateType => v.toInt
                  case ShortType => v.toShort
                  case ByteType => v.toByte
                  case BooleanType => v != 0L
                  case _ => v
                }
              }
            def fn10Val(): (Boolean, Any) =
              if (sp.ign) {
                val ok = lastNNIdx(t) >= 0 && i <= lastNNIdx(t)
                if (!ok) (true, null)
                else (false, if (lastUb(t) >= 0) reboxPrim(fromNN = true)
                  else lastNNVal(t))
              } else if (lastUb(t) >= 0) {
                if (lastPNull(t)) (true, null)
                else (false, reboxPrim(fromNN = false))
              } else (lastVal(t) == null, lastVal(t))
            if (useLatch && newPeer) {
              sp.fn match {
                case 9 => latchNull(t) = outNull(t)(j); latchA(t) = outA(t)(j)
                case 10 =>
                  val (nl, v) = fn10Val(); latchNull(t) = nl; latchA(t) = v
                case _ =>
                  latchNull(t) = outNull(t)(j)
                  latchThrow(t) = outThrow(t) != null && outThrow(t)(j)
                  if (sp.lane == 1) latchD(t) = outD(t)(j) else latchL(t) = outL(t)(j)
              }
            }
            // the row path evaluates rows ascending and throws at the
            // first frame whose ANSI sum overflows — same position here
            if (if (useLatch) latchThrow(t)
                else outThrow(t) != null && outThrow(t)(j))
              throw org.apache.spark.sql.errors.QueryExecutionErrors
                .arithmeticOverflowError("long overflow", "try_add", null)
            sp.fn match {
              case 9 | 10 =>
                val (nl, v) =
                  if (useLatch) (latchNull(t), latchA(t))
                  else if (sp.fn == 9) (outNull(t)(j), outA(t)(j))
                  else fn10Val()
                if (nl) aggRow.setNullAt(t) else aggRow.update(t, v)
              case _ =>
                val isNull = if (useLatch) latchNull(t) else outNull(t)(j)
                if (isNull) aggRow.setNullAt(t)
                else if (sp.lane == 1)
                  emitDbl(aggRow, t, sp.outType, if (useLatch) latchD(t) else outD(t)(j))
                else emitLong(aggRow, t, sp.outType, if (useLatch) latchL(t) else outL(t)(j))
            }
            t += 1
          }
          proj(joined(r, aggRow))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftColumnarWindowExec =
    copy(child = newChild)
}

/** One lag/lead column: `offset` is SIGNED (negative = lag, positive =
  * lead — the FrameLessOffsetWindowFunction convention), `default` is
  * the pre-evaluated literal default (catalyst internal value or null),
  * `dt` the input/result type. */
final case class WinOffsetSpec(col: Int, offset: Int, default: Any, dt: DataType)

/** Streaming lag/lead (reference analogue: CometWindowExec's offset
  * whitelist; Spark twin: WindowExec with FrameLessOffsetWindowFrame).
  *
  * The row WindowExec copies EVERY partition group into its
  * ExternalAppendOnlyUnsafeRowArray before evaluating even a 1-row
  * lag — on a skewed partition key that buffer is the whole hot group.
  * lag(k)/lead(k) only ever need maxLag + maxLead + 1 rows of context,
  * so this operator holds exactly that ring of row copies and emits
  * each row once its furthest lead is in the ring (or the partition
  * closed): O(k) memory under any skew, one pass, no spill machinery
  * needed at all.
  *
  * Restrictions (the rule falls back otherwise): literal offsets,
  * literal defaults, ignoreNulls=false, attribute inputs of
  * long/double/string-family types, and a node holding ONLY lag/lead
  * (Spark plans mixed agg+offset functions into one WindowExec; those
  * keep the row path).
  *
  * A/B (FilterMicroBench winoff-*, sf0.1, 3 runs of min-of-5): lag(1)
  * over ~4-row groups 0.79-0.86x, lag+lead over three ~200k-row hot
  * groups 0.92-1.00x — win-to-parity, ON by default under the shared
  * spark.graft.columnar.window.enabled gate.
  */
case class GraftWindowOffsetExec(
    output: Seq[Attribute],
    partIdx: Seq[Int],
    partTypes: Seq[DataType],
    specs: Seq[WinOffsetSpec],
    child: SparkPlan)
    extends UnaryExecNode {

  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering = child.outputOrdering
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output.drop(child.output.length))

  override lazy val metrics = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numPartitionGroups" -> SQLMetrics.createMetric(sparkContext, "window partition groups"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (inM, grpM) = (metrics("numInputRows"), metrics("numPartitionGroups"))
    val pIdx = partIdx.toArray
    val pTypes = partTypes.toArray
    val ss = specs.toArray
    val outAll = output
    val maxLead = (0 +: ss.map(_.offset).filter(_ > 0).toSeq).max
    val maxLag = (0 +: ss.map(s => -s.offset).filter(_ > 0).toSeq).max
    val cap = maxLag + maxLead + 1
    child.execute().mapPartitionsInternal { rows =>
      import org.apache.spark.sql.catalyst.expressions.UnsafeRow
      val partCarry = new KeyCarry(pIdx, pTypes)
      var anyRow = false
      val ring = new Array[UnsafeRow](cap)
      val aggRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(ss.length)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outAll.map(_.dataType).toArray)
      new Iterator[InternalRow] {
        private var cons = 0L // rows consumed in the current partition
        private var emitE = 0L // rows emitted in the current partition
        private var flushN = -1L // ≥0: partition closed at this row count
        private var held: UnsafeRow = _
        private def canEmit: Boolean = cons - emitE > maxLead
        /** Drive the state machine until something is emittable or input
          * is truly exhausted. MUST loop internally: a partition
          * boundary with no deferred rows pending (lag-only nodes emit
          * each row as it is consumed, so emitE == cons at the boundary)
          * completes its zero-row flush and must immediately seed the
          * next partition and keep consuming — returning there would end
          * the iterator after the first partition.
          */
        private def advance(): Unit = {
          var looping = true
          while (looping) {
            looping = false
            if (flushN >= 0) {
              if (emitE < flushN) return // flush pending → emittable
              // flush done: start the next partition with the held row
              flushN = -1; cons = 0; emitE = 0
              if (held != null) {
                grpM.add(1)
                partCarry.carry(held)
                ring(0) = held
                cons = 1
                held = null
              } else return // input exhausted
            }
            var boundary = false
            while (!canEmit && !boundary && rows.hasNext) {
              val row = rows.next().asInstanceOf[UnsafeRow].copy()
              inM.add(1)
              if (anyRow && partCarry.differs(row)) {
                held = row
                flushN = cons
                boundary = true
              } else {
                if (!anyRow) grpM.add(1)
                anyRow = true
                partCarry.carry(row)
                ring((cons % cap).toInt) = row
                cons += 1
              }
            }
            if (canEmit && flushN < 0) return
            if (boundary) {
              if (emitE < flushN) return // deferred tail → emittable
              looping = true // zero-row flush: restart with held now
            } else if (cons > emitE) {
              // input exhausted with a deferred tail
              flushN = cons
              return
            } else return // truly done
          }
        }
        override def hasNext: Boolean = {
          if ((flushN >= 0 && emitE < flushN) || canEmit) true
          else { advance(); (flushN >= 0 && emitE < flushN) || canEmit }
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val bound = if (flushN >= 0) flushN else Long.MaxValue
          val e = emitE
          emitE += 1
          var s = 0
          while (s < ss.length) {
            val sp = ss(s)
            val t = e + sp.offset
            if (t < 0 || t >= bound) aggRow.update(s, sp.default)
            else aggRow.update(s, readBoxed(ring((t % cap).toInt), sp.col, sp.dt, copy = false))
            s += 1
          }
          proj(joined(ring((e % cap).toInt), aggRow))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftWindowOffsetExec =
    copy(child = newChild)
}

object GraftWindowOffsetExec {
  /** Input/result types the boxed reader handles. */
  def supportedType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
        DateType | TimestampType | TimestampNTZType |
        DoubleType | FloatType | StringType => true
    case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
    case _ => false
  }
}

/** One sliding-frame aggregate: frame is ROWS BETWEEN `lo` AND `hi`
  * (row-relative, both finite; lo <= 0 <= no constraint on hi's sign —
  * trailing [-5,-2] and centered [-1,1] both valid). `fn`/`lane`/
  * `outType`/`ansi` follow [[WinAggSpec]] (0=sum 1=count(col) 2=min
  * 3=max 4=avg 5=count(*)). */
final case class WinSlideSpec(
    fn: Int, col: Int, lane: Int, outType: DataType, ansi: Boolean,
    lo: Long, hi: Long)

/** Sliding ROWS-frame window aggregation (moving averages / rolling
  * sums — reference analogue: CometWindowExec.scala:41-388 whitelists
  * running aggregates only and falls back on sliding frames; Spark twin:
  * WindowExec with SlidingWindowFunctionFrame).
  *
  * The row WindowExec buffers EVERY partition group in its spill-backed
  * ExternalAppendOnlyUnsafeRowArray before evaluating even a 3-row
  * moving average. A ROWS [lo, hi] frame only ever needs
  * max(hi,0)+1-min(lo,0) rows of context, so this operator holds
  * exactly that ring of row copies (the [[GraftWindowOffsetExec]] state
  * machine) and emits each row once its furthest FOLLOWING row is in
  * the ring or the partition closed: O(frame) memory under any skew.
  *
  * TWO evaluation modes, chosen per node:
  *  - FAST (every spec [[GraftWindowSlidingExec.invertible]]): O(n)
  *    total work — exact add/subtract updates for long sums/counts
  *    (modular arithmetic is order-free; ANSI sums use plain adds while
  *    |v| ≤ 2^41, exact-recomputing from the value ring when a bigger
  *    value appears, preserving the throw-on-any-prefix contract) and a
  *    monotonic deque for min/max. The row ring shrinks to the emission
  *    lag (maxLead+1 rows); PRECEDING context survives only as 9 B/row
  *    primitive value rings, so frames up to maxInvertibleFrameRows
  *    (2M rows) are admitted with plan-constant memory. Spark's
  *    SlidingWindowFunctionFrame re-aggregates each frame — O(n·frame) —
  *    so this is an ASYMPTOTIC win (winslide-wide1k: 0.09x = ~11x
  *    faster on 1,000-row rolling sums at sf0.1).
  *  - RECOMPUTE (a double/float sum or any avg in the node): each
  *    emitted row recomputes its aggregate over the ring slice in
  *    ascending row order — the exact evaluation order of Spark's
  *    SlidingWindowFunctionFrame, so double results are bit-identical.
  *    O(n·frame) compute, same as the row path; frame width ≤ 65536
  *    (the full-row ring is allocated eagerly).
  *
  * Restrictions (the rule falls back otherwise): finite literal ROWS
  * bounds within the mode's width cap, sum/count/min/max/avg over
  * long/double-family attributes, supported partition keys, and a node
  * holding ONLY sliding-frame aggregates.
  *
  * A/B (FilterMicroBench winslide-*, sf0.1, 3 runs of min-of-5):
  * 3-row moving avg over ~4-row groups 0.80-0.88x, centered sum+min+max
  * over three ~200k-row hot groups 0.82-0.93x, 1,000-row rolling
  * sum+min+count over the hot groups 0.09x — win on every shape, ON
  * by default under the shared spark.graft.columnar.window.enabled gate.
  */
case class GraftWindowSlidingExec(
    output: Seq[Attribute],
    partIdx: Seq[Int],
    partTypes: Seq[DataType],
    specs: Seq[WinSlideSpec],
    child: SparkPlan)
    extends UnaryExecNode {

  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering = child.outputOrdering
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output.drop(child.output.length))

  override lazy val metrics = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numPartitionGroups" -> SQLMetrics.createMetric(sparkContext, "window partition groups"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (inM, grpM) = (metrics("numInputRows"), metrics("numPartitionGroups"))
    val pIdx = partIdx.toArray
    val pTypes = partTypes.toArray
    val ss = specs.toArray
    val childOut = child.output
    val inTypes = ss.map(s => if (s.col >= 0) childOut(s.col).dataType else null)
    val outAll = output
    val maxLead = math.max(0L, ss.map(_.hi).max)
    val minLo = math.min(0L, ss.map(_.lo).min)
    // FAST MODE: every spec invertible (exact long sum/count add-subtract,
    // min/max monotonic deque) → O(n) total work instead of O(n·frame)
    // recompute, and the row ring shrinks to the emission lag
    // (maxLead+1 rows) — PRECEDING rows survive only as 9 B/row primitive
    // values, which is what lifts the frame cap to
    // maxInvertibleFrameRows. Doubles sums/avgs are NOT invertible
    // (subtraction breaks bit-equality with the row path's left-to-right
    // recompute) and ANSI sums must observe per-prefix overflow, so
    // those nodes keep the slice recompute and the 65,536-row cap.
    val fastMode = ss.forall(GraftWindowSlidingExec.invertible)
    val cap = (if (fastMode) maxLead + 1L else maxLead + 1L - minLo).toInt
    child.execute().mapPartitionsInternal { rows =>
      import org.apache.spark.sql.catalyst.expressions.UnsafeRow
      val partCarry = new KeyCarry(pIdx, pTypes)
      var anyRow = false
      val ring = new Array[UnsafeRow](cap)
      // fast-mode per-spec state: value rings (sized to cover every
      // index between a spec's lowest live frame start and the
      // consumption point), running sum/count, and a monotonic deque of
      // candidate indices for min/max. The footprint is a PLAN constant
      // (frame bounds are literals), registered once with the task
      // memory manager below — a shortfall is logged by the reservation
      // but cannot grow: unlike the range-slide ring this state is not
      // data-dependent.
      val nS = ss.length
      val vCapS = new Array[Int](nS)
      val vLongS = new Array[Array[Long]](nS)
      val vDblS = new Array[Array[Double]](nS)
      val vNullS = new Array[Array[Boolean]](nS)
      val dqS = new Array[Array[Long]](nS)
      val dqCapS = new Array[Int](nS)
      val dqHead = new Array[Int](nS)
      val dqLen = new Array[Int](nS)
      val accLF = new Array[Long](nS)
      val cntF = new Array[Long](nS)
      val loF = new Array[Long](nS)
      val hiF = new Array[Long](nS)
      // per-partition sticky: an ANSI long sum saw |v| > 2^41 — its
      // frames recompute left-to-right with addExact from the value
      // ring (Spark's exact evaluation, incl. the throw position)
      val bigSeenS = new Array[Boolean](nS)
      if (fastMode) {
        def pow2(x: Long): Int =
          java.lang.Long.highestOneBit(math.max(4L, x * 2 - 1)).toInt
        var s = 0
        var fixedBytes = cap.toLong * 64
        while (s < nS) {
          val sp = ss(s)
          if (sp.fn != 5) {
            val vc = pow2(maxLead - math.min(0L, sp.lo) + 2L)
            vCapS(s) = vc
            vNullS(s) = new Array[Boolean](vc)
            fixedBytes += vc
            if (sp.lane == 1) { vDblS(s) = new Array[Double](vc); fixedBytes += vc * 8L }
            else if (sp.fn != 1) { vLongS(s) = new Array[Long](vc); fixedBytes += vc * 8L }
            if (sp.fn == 2 || sp.fn == 3) {
              val dc = pow2(sp.hi - sp.lo + 3L)
              dqCapS(s) = dc
              dqS(s) = new Array[Long](dc)
              fixedBytes += dc * 8L
            }
          }
          s += 1
        }
        java.util.Arrays.fill(hiF, -1L)
        org.apache.spark.sql.graft.GraftMemoryReservation.forTask()
          .foreach(_.reserve(fixedBytes))
      }
      def storeVals(row: UnsafeRow, idx: Long): Unit = {
        var s = 0
        while (s < nS) {
          val sp = ss(s)
          if (sp.fn != 5) {
            val o = (idx % vCapS(s)).toInt
            val nl = row.isNullAt(sp.col)
            vNullS(s)(o) = nl
            if (!nl) {
              if (sp.lane == 1) vDblS(s)(o) = rowDbl(row, sp.col, inTypes(s))
              else if (vLongS(s) != null) {
                val x = rowLong(row, sp.col, inTypes(s))
                vLongS(s)(o) = x
                if (sp.fn == 0 && sp.ansi &&
                  (x > GraftWindowSlidingExec.ansiSafeAbs ||
                    x < -GraftWindowSlidingExec.ansiSafeAbs)) bigSeenS(s) = true
              }
            }
          }
          s += 1
        }
      }
      def resetFast(): Unit = {
        java.util.Arrays.fill(accLF, 0L)
        java.util.Arrays.fill(cntF, 0L)
        java.util.Arrays.fill(loF, 0L)
        java.util.Arrays.fill(hiF, -1L)
        java.util.Arrays.fill(dqHead, 0)
        java.util.Arrays.fill(dqLen, 0)
        java.util.Arrays.fill(bigSeenS, false)
      }
      val aggRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(ss.length)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outAll.map(_.dataType).toArray)
      /** O(1)-amortized update of spec `s` to frame [from, to]: exact
        * add/subtract on the long sum/count lanes (modular arithmetic is
        * order-free, so results equal the recompute path bit-for-bit) and
        * a monotonic deque for min/max (keeps the FIRST minimal/maximal
        * index among compare-equal values — the recompute path's strict-<
        * tie rule). */
      def evalFast(s: Int, from: Long, to: Long): Unit = {
        val sp = ss(s)
        if (sp.fn == 5) { aggRow.update(s, math.max(0L, to - from + 1L)); return }
        val vc = vCapS(s)
        val nls = vNullS(s)
        sp.fn match {
          case 0 if sp.ansi && bigSeenS(s) =>
            // rare: the partition holds |v| > 2^41, so a prefix COULD
            // overflow — recompute this frame left-to-right with
            // addExact, Spark's exact evaluation (and throw position)
            val vl = vLongS(s)
            var acc = 0L
            var cnt = 0L
            var t = from
            while (t <= to) {
              val o = (t % vc).toInt
              if (!nls(o)) {
                try acc = Math.addExact(acc, vl(o))
                catch {
                  case _: ArithmeticException =>
                    throw org.apache.spark.sql.errors.QueryExecutionErrors
                      .arithmeticOverflowError("long overflow", "try_add", null)
                }
                cnt += 1
              }
              t += 1
            }
            if (cnt > 0) emitLong(aggRow, s, sp.outType, acc) else aggRow.setNullAt(s)
          case 0 | 1 =>
            val vl = vLongS(s)
            while (hiF(s) < to) {
              hiF(s) += 1
              val o = (hiF(s) % vc).toInt
              if (!nls(o)) { cntF(s) += 1; if (sp.fn == 0) accLF(s) += vl(o) }
            }
            while (loF(s) < from) {
              // subtract ONLY indexes the add loop included: an EMPTY
              // frame (partition-end clamp pushes `from` past `to`, so
              // hiF stops at the last row) advances `from` over indexes
              // that were never added — reading their ring slots would
              // subtract stale values (the winFrameGen counterexample:
              // a 1-row partition under a 3..4 FOLLOWING frame returned
              // count = -2 from two never-written null flags)
              if (loF(s) <= hiF(s)) {
                val o = (loF(s) % vc).toInt
                if (!nls(o)) { cntF(s) -= 1; if (sp.fn == 0) accLF(s) -= vl(o) }
              }
              loF(s) += 1
            }
            if (sp.fn == 1) aggRow.update(s, cntF(s))
            else if (cntF(s) > 0) emitLong(aggRow, s, sp.outType, accLF(s))
            else aggRow.setNullAt(s)
          case _ => // min/max: monotonic deque of candidate indices
            val dq = dqS(s)
            val dc = dqCapS(s)
            val isMin = sp.fn == 2
            // push ONLY indexes >= this frame's start: `from` never
            // decreases across emissions, so an index below it can
            // never enter any future frame — and skipping them is what
            // BOUNDS the deque at its pow2(hi-lo+3) capacity. (A
            // FOLLOWING frame's first emissions otherwise push the
            // whole consumed prefix before any eviction: the seed-146
            // hunt saw a 4-slot deque wrap at 5 candidates and emit a
            // stale suffix minimum.)
            if (sp.lane == 0) {
              val vl = vLongS(s)
              while (hiF(s) < to) {
                hiF(s) += 1
                val o = (hiF(s) % vc).toInt
                if (!nls(o) && hiF(s) >= from) {
                  val x = vl(o)
                  var len = dqLen(s)
                  while (len > 0 && {
                    val b = vl((dq((dqHead(s) + len - 1) % dc) % vc).toInt)
                    if (isMin) b > x else b < x
                  }) len -= 1
                  dq((dqHead(s) + len) % dc) = hiF(s)
                  dqLen(s) = len + 1
                }
              }
            } else {
              val vd = vDblS(s)
              while (hiF(s) < to) {
                hiF(s) += 1
                val o = (hiF(s) % vc).toInt
                if (!nls(o) && hiF(s) >= from) {
                  val x = vd(o)
                  var len = dqLen(s)
                  while (len > 0 && {
                    val c = SQLOrderingUtil.compareDoubles(
                      vd((dq((dqHead(s) + len - 1) % dc) % vc).toInt), x)
                    if (isMin) c > 0 else c < 0
                  }) len -= 1
                  dq((dqHead(s) + len) % dc) = hiF(s)
                  dqLen(s) = len + 1
                }
              }
            }
            loF(s) = from
            while (dqLen(s) > 0 && dq(dqHead(s)) < from) {
              dqHead(s) = (dqHead(s) + 1) % dc
              dqLen(s) -= 1
            }
            if (dqLen(s) == 0) aggRow.setNullAt(s)
            else {
              val idx = dq(dqHead(s))
              if (sp.lane == 0) emitLong(aggRow, s, sp.outType, vLongS(s)((idx % vc).toInt))
              else emitDbl(aggRow, s, sp.outType, vDblS(s)((idx % vc).toInt))
            }
        }
      }
      /** Recompute spec `s` over partition-relative rows [from, to] (in
        * ascending order — Spark's sliding-frame evaluation order). */
      def evalSlice(s: Int, from: Long, to: Long): Unit = {
        val sp = ss(s)
        if (sp.fn == 5) { // count(*): frame size, no input column
          aggRow.update(s, math.max(0L, to - from + 1L))
          return
        }
        var accL = 0L
        var accD = 0.0
        var cnt = 0L
        var seen = false
        var t = from
        while (t <= to) {
          val r = ring((t % cap).toInt)
          if (!r.isNullAt(sp.col)) {
            sp.fn match {
              case 4 =>
                // avg matches Spark's Average over EVERY input family: a
                // DoubleType sum built from incremental double adds (long
                // inputs are cast per-row, never summed exactly — a
                // long-lane exact sum diverges in ulps for large values
                // and wraps silently past Long.MaxValue)
                accD += (if (sp.lane == 0) rowLong(r, sp.col, inTypes(s)).toDouble
                  else rowDbl(r, sp.col, inTypes(s)))
              case 0 =>
                if (sp.lane == 0) {
                  val x = rowLong(r, sp.col, inTypes(s))
                  if (sp.ansi) {
                    try accL = Math.addExact(accL, x)
                    catch {
                      case _: ArithmeticException =>
                        throw org.apache.spark.sql.errors.QueryExecutionErrors
                          .arithmeticOverflowError("long overflow", "try_add", null)
                    }
                  } else accL += x
                } else accD += rowDbl(r, sp.col, inTypes(s))
              case 1 => // count(col): cnt below is the value
              case _ => // min / max
                if (sp.lane == 0) {
                  val x = rowLong(r, sp.col, inTypes(s))
                  if (!seen || (if (sp.fn == 2) x < accL else x > accL)) accL = x
                } else {
                  val x = rowDbl(r, sp.col, inTypes(s))
                  val c = SQLOrderingUtil.compareDoubles(x, accD)
                  if (!seen || (if (sp.fn == 2) c < 0 else c > 0)) accD = x
                }
            }
            cnt += 1
            seen = true
          }
          t += 1
        }
        sp.fn match {
          case 1 => aggRow.update(s, cnt)
          case 4 =>
            if (cnt > 0) aggRow.update(s, accD / cnt)
            else aggRow.setNullAt(s)
          case _ =>
            if (seen) {
              if (sp.lane == 0) emitLong(aggRow, s, sp.outType, accL)
              else emitDbl(aggRow, s, sp.outType, accD)
            } else aggRow.setNullAt(s)
        }
      }
      new Iterator[InternalRow] {
        private var cons = 0L
        private var emitE = 0L
        private var flushN = -1L
        private var held: UnsafeRow = _
        private def canEmit: Boolean = cons - emitE > maxLead
        // the GraftWindowOffsetExec state machine verbatim — see its
        // advance() doc for why the boundary restart MUST loop
        private def advance(): Unit = {
          var looping = true
          while (looping) {
            looping = false
            if (flushN >= 0) {
              if (emitE < flushN) return
              flushN = -1; cons = 0; emitE = 0
              if (fastMode) resetFast()
              if (held != null) {
                grpM.add(1)
                partCarry.carry(held)
                ring(0) = held
                if (fastMode) storeVals(held, 0L)
                cons = 1
                held = null
              } else return
            }
            var boundary = false
            while (!canEmit && !boundary && rows.hasNext) {
              val row = rows.next().asInstanceOf[UnsafeRow].copy()
              inM.add(1)
              if (anyRow && partCarry.differs(row)) {
                held = row
                flushN = cons
                boundary = true
              } else {
                if (!anyRow) grpM.add(1)
                anyRow = true
                partCarry.carry(row)
                ring((cons % cap).toInt) = row
                if (fastMode) storeVals(row, cons)
                cons += 1
              }
            }
            if (canEmit && flushN < 0) return
            if (boundary) {
              if (emitE < flushN) return
              looping = true
            } else if (cons > emitE) {
              flushN = cons
              return
            } else return
          }
        }
        override def hasNext: Boolean = {
          if ((flushN >= 0 && emitE < flushN) || canEmit) true
          else { advance(); (flushN >= 0 && emitE < flushN) || canEmit }
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val bound = if (flushN >= 0) flushN else Long.MaxValue
          val e = emitE
          emitE += 1
          var s = 0
          while (s < ss.length) {
            val sp = ss(s)
            val from = math.max(0L, e + sp.lo)
            val to = math.min(bound - 1L, e + sp.hi)
            if (fastMode) evalFast(s, from, to) else evalSlice(s, from, to)
            s += 1
          }
          proj(joined(ring((e % cap).toInt), aggRow))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftWindowSlidingExec =
    copy(child = newChild)
}

object GraftWindowSlidingExec {
  /** Ring width cap for RECOMPUTE nodes (any double/ANSI sum or avg
    * spec): frames wider than this keep the row path — the row ring is
    * allocated eagerly per task and every emission rescans its slice. */
  val maxFrameRows = 65536L

  /** Frame cap when EVERY spec is [[invertible]]: the O(n) kernels hold
    * only 9 B/row primitive value rings plus a maxLead+1-row emission
    * ring, so 2M-row frames cost ~36 MB/spec of plan-constant state —
    * and beat both this operator's recompute path and Spark's
    * SlidingWindowFunctionFrame (each O(n·frame)) asymptotically. */
  val maxInvertibleFrameRows = 1L << 21

  /** Specs evaluable by exact O(1) frame updates: long-lane sums
    * (non-ANSI wrap is modular arithmetic, order-free; ANSI sums ride
    * the incremental path while every |value| stays ≤ 2^41 — no prefix
    * of ≤ 2^21 such values can overflow, so plain adds equal addExact —
    * and fall back to exact left-to-right addExact recompute over the
    * value ring once a partition shows a bigger value, preserving
    * Spark's throw-on-any-prefix semantics bit-for-bit), counts, and
    * min/max on either lane (monotonic deque — pure selection, no
    * accumulation). Double sums are excluded (subtraction breaks IEEE
    * bit-equality with the row path's left-to-right recompute), as is
    * avg (double accumulation on every lane — Spark's Average). */
  def invertible(sp: WinSlideSpec): Boolean =
    sp.fn == 1 || sp.fn == 5 ||
      (sp.fn == 0 && sp.lane == 0) ||
      sp.fn == 2 || sp.fn == 3

  /** |value| bound for the incremental ANSI-sum path: 2^41, so any
    * prefix of up to maxInvertibleFrameRows (2^21) values is ≤ 2^62. */
  val ansiSafeAbs = 1L << 41
}

/** Sliding RANGE-frame window aggregation — the rolling time/value
  * window shape (`RANGE BETWEEN 7 PRECEDING AND CURRENT ROW` over a
  * numeric key, `INTERVAL '1' HOUR PRECEDING` over a timestamp).
  * Reference analogue: none — CometWindowExec whitelists running
  * aggregates only; Spark twin: WindowExec with
  * RangeBoundedWindowFunctionFrame over its whole buffered partition.
  *
  * Semantics (pinned by the parity suite against the row WindowExec):
  * a row's frame holds the rows whose ORDER BY value v_j satisfies
  * lo <= (v_j - v_e) * dir <= hi (dir = +1 ASC, -1 DESC — bounds are
  * direction-relative); rows with a NULL order value form their own
  * peer block (their frame is exactly the null block, and they appear
  * in no non-null row's frame); ties share identical frames.
  *
  * Memory is O(max frame occupancy + emission lag), not O(partition):
  * a growable ring holds only rows between the oldest unfinished frame
  * start and the consumption point, evicting as the lower bound
  * advances — registered delta-by-delta (measured row sizes) with the
  * task memory manager via
  * [[org.apache.spark.sql.graft.GraftMemoryReservation]] so Tungsten
  * sees the footprint. The ring is BOUNDED: a refused reservation
  * (executor memory pressure) or crossing
  * [[GraftWindowRangeSlideExec.maxRingBytesKey]] (default 1 GiB)
  * degrades the CURRENT partition: rows stream to a sequential spill
  * FILE (framed UnsafeRow bytes, written once on consume, read back
  * once in emission order — O(n) IO, no random access), while the
  * kernels read per-spec FLAT VALUE ARRAYS (~9 B per spec per row,
  * captured at consume) that COMPACT to the live span before doubling,
  * so in-heap state is bounded by the frame width — the same bound
  * Spark's SlidingWindowFunctionFrame keeps as whole rows in its
  * unspillable ArrayDeque, at a fraction of the bytes. (An earlier
  * design re-opened an ExternalAppendOnlyUnsafeRowArray spill reader
  * per emitted row and per slice — O(position) reads and a ~1 MiB
  * reader-buffer allocation each; the DualRunSuite pressure axis OOMed
  * it.) The partition's end releases the file and arrays and returns
  * to ring mode. Each emission recomputes its slice in ascending row
  * order — Spark's evaluation order, so doubles are bit-identical.
  * Specs reuse [[WinSlideSpec]] with lo/hi as ORDER-BY-value deltas
  * (per-expression frames supported).
  *
  * Invertible specs (long sums incl. the ANSI safe-bound/rescan split,
  * counts, min/max via a monotonic index deque — the
  * [[GraftWindowSlidingExec.invertible]] predicate) evaluate
  * INCREMENTALLY: the per-spec frame pointers only ever advance, so
  * each emission add/subtracts the delta instead of rescanning the
  * slice — O(n) total where the rescan (and Spark's frame machinery)
  * pays O(n·frame). Doubles/avg keep the rescan + tie cache. The
  * kernels read values through mode-dispatching accessors, so the
  * incremental path keeps running in degraded partitions too.
  *
  * A/B (FilterMicroBench winrange-*, sf0.1, 3 runs of min-of-5):
  * 7-unit trailing sum over ~4-row groups 0.87-0.93x; 24h window over
  * three ~200k-row groups with date-granularity ties 0.86-1.01x —
  * the tie-group frame cache holds the hot RESCAN shape (1.12-1.21x
  * loss without it: Spark amortizes tie groups by adding rows
  * incrementally); near-tie-free ~1k-row value windows
  * (winrange-wide) 0.06x — ~17x faster, the incremental kernels'
  * asymptotic win. ON by default under the shared
  * spark.graft.columnar.window.enabled gate.
  */
case class GraftWindowRangeSlideExec(
    output: Seq[Attribute],
    partIdx: Seq[Int],
    partTypes: Seq[DataType],
    ordIdx: Int,
    ordType: DataType,
    dir: Int,
    nullsFirst: Boolean,
    specs: Seq[WinSlideSpec],
    child: SparkPlan)
    extends UnaryExecNode {

  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering = child.outputOrdering
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output.drop(child.output.length))

  override lazy val metrics = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numPartitionGroups" -> SQLMetrics.createMetric(sparkContext, "window partition groups"),
    "peakBufferedRows" -> SQLMetrics.createMetric(sparkContext, "peak buffered rows"),
    "degradedPartitions" -> SQLMetrics.createMetric(sparkContext,
      "partitions degraded to the spill-backed buffer"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (inM, grpM) = (metrics("numInputRows"), metrics("numPartitionGroups"))
    val peakM = metrics("peakBufferedRows")
    val degM = metrics("degradedPartitions")
    val maxRingBytes = conf.getConfString(
      GraftWindowRangeSlideExec.maxRingBytesKey, "1073741824").toLong
    val ansiSafeAbsBound = conf.getConfString(
      GraftWindowRangeSlideExec.ansiSafeAbsKey,
      GraftWindowSlidingExec.ansiSafeAbs.toString).toLong
    val ansiFrameRowCap = conf.getConfString(
      GraftWindowRangeSlideExec.ansiFrameRowCapKey,
      GraftWindowSlidingExec.maxInvertibleFrameRows.toString).toLong
    val pIdx = partIdx.toArray
    val pTypes = partTypes.toArray
    val ss = specs.toArray
    val childOut = child.output
    val inTypes = ss.map(s => if (s.col >= 0) childOut(s.col).dataType else null)
    val outAll = output
    val oIdx = ordIdx
    val oType = ordType
    val direction = dir
    val nFirst = nullsFirst
    child.execute().mapPartitionsInternal { rows =>
      import org.apache.spark.sql.catalyst.expressions.UnsafeRow
      val nS = ss.length
      val partCarry = new KeyCarry(pIdx, pTypes)
      var anyRow = false
      val reservation = org.apache.spark.sql.graft.GraftMemoryReservation.forTask()
      // Order-value comparisons, abstracted over the key family:
      // integral keys use exact long deltas along the sort direction;
      // DOUBLE keys replicate the row path bit-for-bit — boundary =
      // v_e ± bound with IEEE adds (a - b == a + (-b) exactly), frame
      // inclusion via SQLOrderingUtil.compareDoubles (NaN greatest,
      // -0.0 == 0.0 — the same ordering classes Spark's bound
      // projection compares with). Double ordVals carry normalized
      // bits from rowLong; normalization never changes the arithmetic
      // (-0.0 + x == 0.0 + x, NaN + x == NaN).
      val isDbl = oType == DoubleType
      // "before/beyond the frame" are ITERATION-order notions: ASC the
      // frame's first row is the value-space low end (e + lo), DESC it
      // is the high end (e - lo) — delta*dir in [lo, hi] ⇔ v in
      // [e - hi, e - lo] for DESC
      def belowLo(vB: Long, eB: Long, sp: WinSlideSpec): Boolean =
        if (isDbl) {
          val v = java.lang.Double.longBitsToDouble(vB)
          val e = java.lang.Double.longBitsToDouble(eB)
          if (direction == 1)
            SQLOrderingUtil.compareDoubles(v,
              e + java.lang.Double.longBitsToDouble(sp.lo)) < 0
          else
            SQLOrderingUtil.compareDoubles(v,
              e - java.lang.Double.longBitsToDouble(sp.lo)) > 0
        } else (vB - eB) * direction < sp.lo
      def aboveHi(vB: Long, eB: Long, sp: WinSlideSpec): Boolean =
        if (isDbl) {
          val v = java.lang.Double.longBitsToDouble(vB)
          val e = java.lang.Double.longBitsToDouble(eB)
          if (direction == 1)
            SQLOrderingUtil.compareDoubles(v,
              e + java.lang.Double.longBitsToDouble(sp.hi)) > 0
          else
            SQLOrderingUtil.compareDoubles(v,
              e - java.lang.Double.longBitsToDouble(sp.hi)) < 0
        } else (vB - eB) * direction > sp.hi
      /** The head row's every frame is complete once the latest
        * consumed value is beyond every spec's upper bound. */
      def closesAll(lastB: Long, eB: Long): Boolean = {
        var s = 0
        while (s < nS) { if (!aboveHi(lastB, eB, ss(s))) return false; s += 1 }
        true
      }
      // per-spec typed readers hoisted out of the slice loop — the
      // per-element dt dispatch dominates on wide frames otherwise
      val getL: Array[UnsafeRow => Long] = Array.tabulate(nS) { s =>
        if (ss(s).col < 0 || ss(s).lane != 0) null
        else {
          val c = ss(s).col
          inTypes(s) match {
            case ByteType => r => r.getByte(c).toLong
            case ShortType => r => r.getShort(c).toLong
            case IntegerType | DateType => r => r.getInt(c).toLong
            case BooleanType => r => if (r.getBoolean(c)) 1L else 0L
            case d: DecimalType =>
              r => r.getDecimal(c, d.precision, d.scale).toUnscaledLong
            case _ => r => r.getLong(c)
          }
        }
      }
      val getD: Array[UnsafeRow => Double] = Array.tabulate(nS) { s =>
        if (ss(s).col < 0 || ss(s).lane != 1) null
        else {
          val c = ss(s).col
          inTypes(s) match {
            case FloatType => r => r.getFloat(c).toDouble
            case ByteType => r => r.getByte(c).toDouble
            case ShortType => r => r.getShort(c).toDouble
            case IntegerType => r => r.getInt(c).toDouble
            case LongType => r => r.getLong(c).toDouble
            case _ => r => r.getDouble(c)
          }
        }
      }
      // growable ring over partition-relative indices [minKeep, cons)
      var cap = 1 << 10
      var ring = new Array[UnsafeRow](cap)
      var ordVals = new Array[Long](cap)
      var ordNulls = new Array[Boolean](cap)
      // measured row footprint for reservation sizing (exact UnsafeRow
      // bytes + per-slot overhead: ring ref 8 + ordVal 8 + ordNull 1 +
      // ~39 object/array headers)
      var rowBytesSum = 0L
      var rowCount = 0L
      var accountedBytes = 0L
      def perRowEstimate: Long =
        math.max(64L, (if (rowCount == 0) 0L else rowBytesSum / rowCount) + 56L)
      // DEGRADED-PARTITION state: when the ring's reservation is refused
      // (executor memory pressure) or the ring would cross maxRingBytes,
      // the CURRENT partition stops holding UnsafeRows on the heap:
      //  - rows stream to a sequential spill FILE (length-prefixed
      //    frames), appended once on consume and read back once, in
      //    order, for emission — no random access, no per-row reader
      //    construction (the EAOURA design this replaces re-opened a
      //    spill reader per emitted row/slice: O(position) reads each
      //    plus a ~1 MiB reader buffer per call — the DualRunSuite
      //    pressure axis OOMed it);
      //  - the kernels (slice rescans, incremental sums, min/max
      //    deques) read per-spec flat VALUE arrays (8 B value + 1 B
      //    null per spec per row, captured at consume; doubles as raw
      //    bits) through the spec*At accessors — frame evaluation
      //    never touches a buffered row again. The arrays compact to
      //    the live span [min(frame pointers, emission head), cons)
      //    before doubling, so their footprint is frame-bounded (the
      //    same bound Spark's SlidingWindowFunctionFrame keeps as
      //    whole rows in its unspillable ArrayDeque), with best-effort
      //    delta reservations — the row mass itself is on disk.
      var degraded = false
      var degValBase = 0L
      var degVals: Array[Long] = null
      var degNulls: Array[Boolean] = null
      var degSpecVals: Array[Array[Long]] = null
      var degSpecNulls: Array[Array[Boolean]] = null
      var degCap = 0
      var degFile: java.io.File = null
      var degOut: java.io.DataOutputStream = null
      var degIn: java.io.DataInputStream = null
      var degWritten = 0L // rows appended to the file
      var degFlushed = 0L // rows guaranteed visible to the reader
      var degRead = 0L // rows consumed by emission
      var degReadBuf = new Array[Byte](1 << 12)
      val degCopyBuf = new Array[Byte](1 << 12)
      val degOutRow = new UnsafeRow(childOut.size)
      def degPerRowBytes: Long = 9L + 9L * nS
      def writeDegRow(r: UnsafeRow): Unit = {
        degOut.writeInt(r.getSizeInBytes)
        r.writeToStream(degOut, degCopyBuf)
        degWritten += 1
      }
      def readDegRow(): UnsafeRow = {
        if (degIn == null)
          degIn = new java.io.DataInputStream(new java.io.BufferedInputStream(
            new java.io.FileInputStream(degFile), 1 << 16))
        if (degRead >= degFlushed) { degOut.flush(); degFlushed = degWritten }
        val len = degIn.readInt()
        if (degReadBuf.length < len)
          degReadBuf = new Array[Byte](java.lang.Integer.highestOneBit(len) << 1)
        degIn.readFully(degReadBuf, 0, len)
        degOutRow.pointTo(degReadBuf, len)
        degRead += 1
        degOutRow
      }
      /** Capture spec `s`'s input value of `row` as long bits (0 for
        * specs whose kernel only consumes the null bit, e.g. count). */
      def specBits(s: Int, row: UnsafeRow): Long =
        if (ss(s).lane == 0) { val g = getL(s); if (g == null) 0L else g(row) }
        else { val g = getD(s)
          if (g == null) 0L else java.lang.Double.doubleToRawLongBits(g(row)) }
      def captureSpecs(row: UnsafeRow, k: Int): Unit = {
        var s = 0
        while (s < nS) {
          if (ss(s).col >= 0) {
            val nl = row.isNullAt(ss(s).col)
            degSpecNulls(s)(k) = nl
            if (!nl) degSpecVals(s)(k) = specBits(s, row)
          }
          s += 1
        }
      }
      def degrade(minKeep: Long, emitFrom: Long, cons: Long): Unit = {
        degM.add(1)
        degFile = java.io.File.createTempFile("graft-winrange-deg", ".bin")
        degOut = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(degFile), 1 << 16))
        // the final partition's file is released at task end (the
        // partition-end cleanup only runs on the NEXT flush)
        Option(org.apache.spark.TaskContext.get()).foreach { tc =>
          val f = degFile
          tc.addTaskCompletionListener[Unit] { _ => f.delete(); () }
        }
        degValBase = minKeep
        val n = (cons - minKeep).toInt
        degCap = math.max(1 << 10, java.lang.Integer.highestOneBit(math.max(1, n)) << 2)
        degVals = new Array[Long](degCap)
        degNulls = new Array[Boolean](degCap)
        degSpecVals = Array.tabulate(nS)(s =>
          if (ss(s).col >= 0) new Array[Long](degCap) else null)
        degSpecNulls = Array.tabulate(nS)(s =>
          if (ss(s).col >= 0) new Array[Boolean](degCap) else null)
        degWritten = 0L; degFlushed = 0L; degRead = 0L
        var i = minKeep
        while (i < cons) {
          val o = (i % cap).toInt
          val r = ring(o)
          val k = (i - minKeep).toInt
          degVals(k) = ordVals(o)
          degNulls(k) = ordNulls(o)
          captureSpecs(r, k)
          // rows below the emission head are already out; only their
          // VALUES are still frame-relevant
          if (i >= emitFrom) writeDegRow(r)
          i += 1
        }
        // the ring is dead: release its arrays and its reservation,
        // then account the (much smaller) flat value arrays
        ring = null; ordVals = null; ordNulls = null
        accountedBytes = 0L
        reservation.foreach(_.freeAll())
        reservation.foreach(_.reserve(degCap * degPerRowBytes))
        degraded = true
      }
      def appendDeg(row: UnsafeRow, nl: Boolean, v: Long, cons: Long,
          minKeep: Long): Unit = {
        var idx = cons - degValBase
        if (idx >= degCap) {
          val live = cons - minKeep
          if (live <= (degCap >> 1)) {
            // compact to the live span instead of doubling — bounds the
            // arrays by frame width, not partition length
            val shift = (minKeep - degValBase).toInt
            val n = live.toInt
            System.arraycopy(degVals, shift, degVals, 0, n)
            System.arraycopy(degNulls, shift, degNulls, 0, n)
            var s = 0
            while (s < nS) {
              if (degSpecVals(s) != null) {
                System.arraycopy(degSpecVals(s), shift, degSpecVals(s), 0, n)
                System.arraycopy(degSpecNulls(s), shift, degSpecNulls(s), 0, n)
              }
              s += 1
            }
            degValBase = minKeep
          } else {
            val nCap = degCap << 1
            // best-effort delta accounting; a refusal here has no
            // cheaper fallback left (the rows are already on disk) and
            // the arrays are ~an order smaller than the rows they shadow
            reservation.foreach(_.reserve(degCap * degPerRowBytes))
            degVals = java.util.Arrays.copyOf(degVals, nCap)
            degNulls = java.util.Arrays.copyOf(degNulls, nCap)
            var s = 0
            while (s < nS) {
              if (degSpecVals(s) != null) {
                degSpecVals(s) = java.util.Arrays.copyOf(degSpecVals(s), nCap)
                degSpecNulls(s) = java.util.Arrays.copyOf(degSpecNulls(s), nCap)
              }
              s += 1
            }
            degCap = nCap
          }
          idx = cons - degValBase
        }
        val k = idx.toInt
        degVals(k) = v
        degNulls(k) = nl
        captureSpecs(row, k)
        writeDegRow(row)
        peakM.set(math.max(peakM.value, idx + 1))
      }
      def ordValAt(t: Long): Long =
        if (degraded) degVals((t - degValBase).toInt) else ordVals((t % cap).toInt)
      def ordNullAt(t: Long): Boolean =
        if (degraded) degNulls((t - degValBase).toInt) else ordNulls((t % cap).toInt)
      // spec-input accessors — mode-dispatching, so every kernel
      // (slice rescan, incremental add/subtract, deque push/emit) works
      // identically over ring rows and degraded flat arrays
      def specNullAt(s: Int, t: Long): Boolean =
        if (degraded) degSpecNulls(s)((t - degValBase).toInt)
        else ring((t % cap).toInt).isNullAt(ss(s).col)
      def specLAt(s: Int, t: Long): Long =
        if (degraded) degSpecVals(s)((t - degValBase).toInt)
        else getL(s)(ring((t % cap).toInt))
      def specDAt(s: Int, t: Long): Double =
        if (degraded) java.lang.Double.longBitsToDouble(
          degSpecVals(s)((t - degValBase).toInt))
        else getD(s)(ring((t % cap).toInt))
      def grow(minKeep: Long, emitFrom: Long, cons: Long): Unit = {
        val nCap = cap << 1
        // delta-only reservation against MEASURED row sizes; a refusal
        // (or crossing the ring-bytes cap) degrades this partition to
        // the spill-backed buffer instead of growing unaccounted heap
        val perRow = perRowEstimate
        val target = nCap.toLong * perRow
        if (target > maxRingBytes ||
          !reservation.forall(_.reserve(target - accountedBytes))) {
          degrade(minKeep, emitFrom, cons)
          return
        }
        accountedBytes = target
        val nRing = new Array[UnsafeRow](nCap)
        val nVals = new Array[Long](nCap)
        val nNulls = new Array[Boolean](nCap)
        var i = minKeep
        while (i < cons) {
          val o = (i % cap).toInt; val n = (i % nCap).toInt
          nRing(n) = ring(o); nVals(n) = ordVals(o); nNulls(n) = ordNulls(o)
          i += 1
        }
        ring = nRing; ordVals = nVals; ordNulls = nNulls; cap = nCap
        peakM.set(math.max(peakM.value, nCap))
      }
      val aggRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(nS)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outAll.map(_.dataType).toArray)
      // per-spec frame cache: ties share identical frames (value-based
      // bounds), so consecutive rows of a tie group — the common case
      // for date-granularity keys — reuse the computed aggregate
      // instead of rescanning the slice (Spark's sliding frame
      // amortizes the same way by adding rows incrementally)
      val cFrom = Array.fill(nS)(Long.MinValue)
      val cTo = Array.fill(nS)(Long.MinValue)
      val cL = new Array[Long](nS)
      val cD = new Array[Double](nS)
      val cCnt = new Array[Long](nS)
      val cSeen = new Array[Boolean](nS)
      // INCREMENTAL (O(n)) kernels for invertible specs — the sliding
      // ROWS exec's trick carried to value-range frames: the per-spec
      // frame pointers lp/hp only ever advance, so long sums/counts
      // update by exact add/subtract and min/max by a monotonic deque
      // of ring indices, instead of evalSlice's O(frame) rescan per
      // emission. Doubles/avg keep the rescan (bit-equality); ANSI
      // sums flip to the rescan for the rest of a partition once it
      // shows |v| > 2^41 (plain adds equal addExact below that — see
      // GraftWindowSlidingExec.ansiSafeAbs). The kernels read through
      // the mode-dispatching spec*At accessors, so degraded partitions
      // keep the incremental path too (values live in flat arrays
      // there). fn 5 (count(*)) is already O(1).
      val invS = ss.map(sp => sp.fn != 5 && sp.fn != 4 &&
        GraftWindowSlidingExec.invertible(sp))
      val iFrom = new Array[Long](nS)
      val iTo = Array.fill(nS)(-1L)
      val iAccL = new Array[Long](nS)
      val iCnt = new Array[Long](nS)
      val rBigSeen = new Array[Boolean](nS)
      val rDq = new Array[Array[Long]](nS)
      val rDqHead = new Array[Int](nS)
      val rDqLen = new Array[Int](nS)
      val ansiSumIdx = (0 until nS).filter(s =>
        ss(s).fn == 0 && ss(s).lane == 0 && ss(s).ansi).toArray
      def resetInc(): Unit = {
        java.util.Arrays.fill(iFrom, 0L)
        java.util.Arrays.fill(iTo, -1L)
        java.util.Arrays.fill(iAccL, 0L)
        java.util.Arrays.fill(iCnt, 0L)
        java.util.Arrays.fill(rBigSeen, false)
        java.util.Arrays.fill(rDqHead, 0)
        java.util.Arrays.fill(rDqLen, 0)
      }
      def dqPush(s: Int, idx: Long): Unit = {
        var dq = rDq(s)
        if (dq == null) { dq = new Array[Long](1 << 10); rDq(s) = dq }
        val sp = ss(s)
        val isMin = sp.fn == 2
        // pop back while strictly worse than the incoming value (keeps
        // the FIRST minimal/maximal among compare-equal — the rescan
        // path's strict-compare tie rule)
        if (sp.lane == 0) {
          val x = specLAt(s, idx)
          while (rDqLen(s) > 0 && {
            val b = specLAt(s, dq((rDqHead(s) + rDqLen(s) - 1) % dq.length))
            if (isMin) b > x else b < x
          }) rDqLen(s) -= 1
        } else {
          val x = specDAt(s, idx)
          while (rDqLen(s) > 0 && {
            val b = specDAt(s, dq((rDqHead(s) + rDqLen(s) - 1) % dq.length))
            val c = SQLOrderingUtil.compareDoubles(b, x)
            if (isMin) c > 0 else c < 0
          }) rDqLen(s) -= 1
        }
        if (rDqLen(s) == dq.length) {
          // unwrap into a doubled array (head back to 0)
          val nDq = new Array[Long](dq.length << 1)
          var k = 0
          while (k < rDqLen(s)) { nDq(k) = dq((rDqHead(s) + k) % dq.length); k += 1 }
          rDq(s) = nDq; rDqHead(s) = 0; dq = nDq
        }
        dq((rDqHead(s) + rDqLen(s)) % dq.length) = idx
        rDqLen(s) += 1
      }
      def incInclude(s: Int, idx: Long): Unit = {
        val sp = ss(s)
        if (!specNullAt(s, idx)) sp.fn match {
          case 0 => iAccL(s) += specLAt(s, idx); iCnt(s) += 1
          case 1 => iCnt(s) += 1
          case _ => dqPush(s, idx)
        }
      }
      def incExclude(s: Int, idx: Long): Unit = {
        val sp = ss(s)
        if (sp.fn == 0 || sp.fn == 1) {
          if (!specNullAt(s, idx)) {
            if (sp.fn == 0) iAccL(s) -= specLAt(s, idx)
            iCnt(s) -= 1
          }
        } // min/max deque heads evict by index bound at emit
      }
      /** Sync spec `s`'s incremental state to frame [lp, hp] and write
        * its output — amortized O(1) per emission. */
      def evalInc(s: Int, lp: Long, hp: Long): Unit = {
        val sp = ss(s)
        if (lp > iTo(s) + 1) {
          // disjoint jump (frame cleared a gap): rebuild from empty
          iAccL(s) = 0L; iCnt(s) = 0L; rDqLen(s) = 0; rDqHead(s) = 0
          iFrom(s) = lp; iTo(s) = lp - 1
        }
        while (iTo(s) < hp) { iTo(s) += 1; incInclude(s, iTo(s)) }
        while (iFrom(s) < lp) { incExclude(s, iFrom(s)); iFrom(s) += 1 }
        sp.fn match {
          case 1 => aggRow.update(s, iCnt(s))
          case 0 =>
            if (iCnt(s) > 0) emitLong(aggRow, s, sp.outType, iAccL(s)) else aggRow.setNullAt(s)
          case _ =>
            val dq = rDq(s)
            while (rDqLen(s) > 0 && dq(rDqHead(s)) < lp) {
              rDqHead(s) = (rDqHead(s) + 1) % dq.length
              rDqLen(s) -= 1
            }
            if (rDqLen(s) == 0) aggRow.setNullAt(s)
            else {
              val hd = dq(rDqHead(s))
              if (sp.lane == 0) emitLong(aggRow, s, sp.outType, specLAt(s, hd))
              else emitDbl(aggRow, s, sp.outType, specDAt(s, hd))
            }
        }
      }
      def writeOut(s: Int): Unit = {
        val sp = ss(s)
        sp.fn match {
          case 5 => aggRow.update(s, math.max(0L, cTo(s) - cFrom(s) + 1L))
          case 1 => aggRow.update(s, cCnt(s))
          case 4 =>
            if (cCnt(s) > 0) aggRow.update(s, cD(s) / cCnt(s))
            else aggRow.setNullAt(s)
          case _ =>
            if (cSeen(s)) {
              if (sp.lane == 0) emitLong(aggRow, s, sp.outType, cL(s))
              else emitDbl(aggRow, s, sp.outType, cD(s))
            } else aggRow.setNullAt(s)
        }
      }
      def evalSlice(s: Int, from: Long, to: Long): Unit = {
        val sp = ss(s)
        if (from == cFrom(s) && to == cTo(s)) { writeOut(s); return }
        cFrom(s) = from; cTo(s) = to
        if (sp.fn == 5) { writeOut(s); return }
        var accL = 0L
        var accD = 0.0
        var cnt = 0L
        var seen = false
        // values read through the mode-dispatching accessors: ring rows
        // normally, flat value arrays in degraded partitions — the scan
        // order (ascending t) is Spark's evaluation order either way,
        // so double accumulation stays bit-identical
        var t = from
        while (t <= to) {
          if (!specNullAt(s, t)) {
            sp.fn match {
              case 4 =>
                // avg = DoubleType sum with incremental double adds over
                // every input family — Spark's Average (see the sliding
                // exec's evalSlice note)
                accD += (if (sp.lane == 0) specLAt(s, t).toDouble else specDAt(s, t))
              case 0 =>
                if (sp.lane == 0) {
                  val x = specLAt(s, t)
                  if (sp.ansi) {
                    try accL = Math.addExact(accL, x)
                    catch {
                      case _: ArithmeticException =>
                        throw org.apache.spark.sql.errors.QueryExecutionErrors
                          .arithmeticOverflowError("long overflow", "try_add", null)
                    }
                  } else accL += x
                } else accD += specDAt(s, t)
              case 1 =>
              case _ =>
                if (sp.lane == 0) {
                  val x = specLAt(s, t)
                  if (!seen || (if (sp.fn == 2) x < accL else x > accL)) accL = x
                } else {
                  val x = specDAt(s, t)
                  val c = SQLOrderingUtil.compareDoubles(x, accD)
                  if (!seen || (if (sp.fn == 2) c < 0 else c > 0)) accD = x
                }
            }
            cnt += 1
            seen = true
          }
          t += 1
        }
        cL(s) = accL; cD(s) = accD; cCnt(s) = cnt; cSeen(s) = seen
        writeOut(s)
      }
      new Iterator[InternalRow] {
        private var cons = 0L // rows consumed in the current partition
        private var emitE = 0L // rows emitted in the current partition
        private var flushN = -1L // >=0: partition closed at this count
        private var held: UnsafeRow = _
        // partition-relative layout: [0, nnStart) leading nulls (nulls
        // first), [nnStart/0, nullTail) non-null run, [nullTail, ...)
        // trailing nulls (nulls last); -1 = not seen yet
        private var nnStart = -1L
        private var nullTail = -1L
        private val loPtrS = new Array[Long](nS)
        // -1, matching resetPart: a zero-init would hand the FIRST
        // partition's first emission hp = max(0, lp-1) — a phantom
        // include of index 0 when a strictly-preceding frame (hi < 0)
        // is empty before the partition's first row (the winFrameGen
        // counterexample: count(*) = 1 over RANGE -1..-1 on one row)
        private val hiPtrS = Array.fill(nS)(-1L)
        private def resetPart(): Unit = {
          cons = 0; emitE = 0; nnStart = -1; nullTail = -1
          java.util.Arrays.fill(loPtrS, 0L)
          java.util.Arrays.fill(hiPtrS, -1L)
          // indices restart per partition — a stale cache would
          // false-hit on the same (from, to) pair
          java.util.Arrays.fill(cFrom, Long.MinValue)
          java.util.Arrays.fill(cTo, Long.MinValue)
          resetInc()
          if (degraded) {
            // the pressured partition is done: release its spill file,
            // streams and value arrays, and return to ring mode at the
            // initial capacity
            if (degOut != null) { degOut.close(); degOut = null }
            if (degIn != null) { degIn.close(); degIn = null }
            if (degFile != null) { degFile.delete(); degFile = null }
            degVals = null; degNulls = null
            degSpecVals = null; degSpecNulls = null
            degraded = false; degValBase = 0L; degCap = 0
            reservation.foreach(_.freeAll()) // the value-array grants
            cap = 1 << 10
            ring = new Array[UnsafeRow](cap)
            ordVals = new Array[Long](cap)
            ordNulls = new Array[Boolean](cap)
          }
        }
        /** Can the head row (emitE) be emitted with input seen so far? */
        private def headReady: Boolean = {
          if (emitE >= cons) return false
          if (flushN >= 0) return true
          if (ordNullAt(emitE)) {
            // null block: closed once the non-null run starts AFTER it
            // (nulls-first); trailing nulls close only at flush
            nFirst && nnStart >= 0
          } else {
            if (ordNullAt(cons - 1)) !nFirst // a trailing null closes all non-nulls
            else closesAll(ordValAt(cons - 1), ordValAt(emitE))
          }
        }
        private def consumeOne(): Boolean = {
          if (!rows.hasNext) return false
          val row = rows.next().asInstanceOf[UnsafeRow].copy()
          inM.add(1)
          if (anyRow && partCarry.differs(row)) {
            held = row
            flushN = cons
            return false
          }
          if (!anyRow) grpM.add(1)
          anyRow = true
          partCarry.carry(row)
          rowBytesSum += row.getSizeInBytes
          rowCount += 1
          // ANSI long sums leave the incremental path for the rest of
          // the partition once any |value| exceeds the safe bound
          var bi = 0
          while (bi < ansiSumIdx.length) {
            val s = ansiSumIdx(bi)
            if (!rBigSeen(s) && !row.isNullAt(ss(s).col)) {
              val x = getL(s)(row)
              if (x > ansiSafeAbsBound || x < -ansiSafeAbsBound)
                rBigSeen(s) = true
            }
            bi += 1
          }
          val nl = row.isNullAt(oIdx)
          val v = if (nl) 0L else rowLong(row, oIdx, oType)
          // live span: rows below every frame pointer AND already
          // emitted are dead (ring eviction / degraded-array compaction)
          var minKeep = emitE
          var s = 0
          while (s < nS) { if (loPtrS(s) < minKeep) minKeep = loPtrS(s); s += 1 }
          if (!degraded && cons - minKeep >= cap)
            grow(minKeep, emitE, cons) // may degrade
          if (degraded) appendDeg(row, nl, v, cons, minKeep)
          else {
            val o = (cons % cap).toInt
            ring(o) = row
            ordNulls(o) = nl
            ordVals(o) = v
          }
          if (!nl && nnStart < 0) nnStart = cons
          if (nl && nnStart >= 0 && nullTail < 0) nullTail = cons
          cons += 1
          true
        }
        private def advance(): Unit = {
          var looping = true
          while (looping) {
            looping = false
            if (flushN >= 0 && emitE >= flushN) {
              // flush done: seed next partition with the held row
              flushN = -1
              resetPart()
              if (held != null) {
                grpM.add(1)
                partCarry.carry(held)
                ring(0) = held
                val nl = held.isNullAt(oIdx)
                ordNulls(0) = nl
                ordVals(0) = if (nl) 0L else rowLong(held, oIdx, oType)
                if (!nl) nnStart = 0L
                cons = 1
                held = null
              } else return
            }
            while (!headReady && flushN < 0 && consumeOne()) {}
            if (headReady) return
            if (flushN < 0) {
              if (held == null && !rows.hasNext) {
                // input exhausted: flush the tail
                if (cons > emitE) { flushN = cons; return }
                else return
              }
              // partition boundary hit inside consumeOne (flushN set) or
              // nothing pending — re-check loop conditions
              if (flushN < 0 && cons == emitE && held == null) return
            }
            if (flushN >= 0 && emitE < flushN) return
            if (flushN >= 0 && emitE >= flushN) looping = true
          }
        }
        override def hasNext: Boolean = {
          if (headReady) true
          else { advance(); headReady }
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val bound = if (flushN >= 0) flushN else cons
          val e = emitE
          val eNull = ordNullAt(e)
          val eVal = ordValAt(e)
          // non-null run limits within [0, bound)
          val runStart = if (nnStart >= 0) nnStart else bound
          val runEnd = if (nullTail >= 0) nullTail else bound // exclusive
          var s = 0
          while (s < nS) {
            if (eNull) {
              // the null block's frame is exactly the null block; an
              // all-null partition (nnStart < 0) is one block either way
              val from = if (nFirst || nnStart < 0) 0L else runEnd
              val to = (if (nFirst && nnStart >= 0) runStart else bound) - 1L
              evalSlice(s, from, to)
            } else {
              val sp = ss(s)
              // frame: lo <= (v_j - v_e) * dir <= hi within the run
              var lp = math.max(loPtrS(s), runStart)
              while (lp < runEnd && lp < cons &&
                belowLo(ordValAt(lp), eVal, sp)) lp += 1
              loPtrS(s) = lp
              var hp = math.max(hiPtrS(s), lp - 1)
              while (hp + 1 < runEnd && hp + 1 < cons &&
                !aboveHi(ordValAt(hp + 1), eVal, sp)) hp += 1
              hiPtrS(s) = hp
              // RANGE frames are value-bounded but row-count-unbounded:
              // the ANSI safe-bound proof needs BOTH |v| <= 2^41 AND
              // <= 2^21 rows per frame (the planner enforces the row
              // cap for ROWS frames only). Sticky-flip to the addExact
              // rescan once a frame exceeds the row bound — plain adds
              // in iAccL could silently wrap where the row path throws.
              if (sp.fn == 0 && sp.lane == 0 && sp.ansi && !rBigSeen(s) &&
                hp - lp + 1 > ansiFrameRowCap)
                rBigSeen(s) = true
              if (invS(s) && !rBigSeen(s)) evalInc(s, lp, hp)
              else evalSlice(s, lp, hp)
            }
            s += 1
          }
          emitE += 1
          // degraded rows come back from the spill file strictly in
          // emission order — one sequential framed read per row
          val outRow =
            if (!degraded) ring((e % cap).toInt)
            else readDegRow()
          proj(joined(outRow, aggRow))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftWindowRangeSlideExec =
    copy(child = newChild)
}

object GraftWindowRangeSlideExec {
  /** Ceiling on the in-heap ring's estimated footprint (default 1 GiB):
    * crossing it — or a refused task-memory reservation — degrades the
    * current partition to the spill-backed buffer instead of growing
    * unspillable heap. Tests shrink it to force the degraded path. */
  val maxRingBytesKey = "spark.graft.columnar.window.rangeslide.maxRingBytes"

  /** Test-only overrides of the incremental ANSI-sum safe bounds
    * (defaults = the proof constants [[GraftWindowSlidingExec.ansiSafeAbs]]
    * and [[GraftWindowSlidingExec.maxInvertibleFrameRows]]): the silent-wrap
    * hazard needs |v| near 2^41 AND > 2^22 frame rows, so the parity test
    * shrinks both to exercise the evalSlice fallback on small data. */
  val ansiSafeAbsKey = "spark.graft.columnar.window.rangeslide.ansiSafeAbs"
  val ansiFrameRowCapKey =
    "spark.graft.columnar.window.rangeslide.ansiFrameRowCap"
}

/** Partition/peer key carry of the row faces: null-safe equality of a
  * row's keys (`idx`, of `types`) against the last carried row — nulls
  * group with nulls. Strings are cloned on carry (the child may reuse
  * its row buffer); every other key type rides the long lane.
  */
private[graft] final class KeyCarry(idx: Array[Int], types: Array[DataType]) {
  private val longs = new Array[Long](idx.length)
  private val strs = new Array[org.apache.spark.unsafe.types.UTF8String](idx.length)
  private val nulls = new Array[Boolean](idx.length)
  def differs(r: InternalRow): Boolean = {
    var k = 0
    while (k < idx.length) {
      val nl = r.isNullAt(idx(k))
      val d =
        if (nl != nulls(k)) true
        else if (nl) false
        else if (types(k) == StringType)
          r.getUTF8String(idx(k)).compareTo(strs(k)) != 0
        else rowLong(r, idx(k), types(k)) != longs(k)
      if (d) return true
      k += 1
    }
    false
  }
  def carry(r: InternalRow): Unit = {
    var k = 0
    while (k < idx.length) {
      val nl = r.isNullAt(idx(k))
      nulls(k) = nl
      if (!nl) {
        if (types(k) == StringType) strs(k) = r.getUTF8String(idx(k)).clone()
        else longs(k) = rowLong(r, idx(k), types(k))
      }
      k += 1
    }
  }
}

object GraftColumnarWindowExec {
  /** Rows per suffix-frame staging block (pass-2 value arrays are this
    * long; block-suffix accumulators number n/blockRows). 4,096 default
    * balances staging heap (~9 B/row/spec) against block-array size. */
  val suffixBlockRowsKey = "spark.graft.columnar.window.suffix.blockRows"

  /** Partition-key types the streaming boundary check handles: the
    * long-family lane plus strings. Double keys are excluded — NaN/-0.0
    * grouping equality is normalized upstream on the row path and not
    * worth replicating here. */
  def supportedPartType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
        DateType | TimestampType | TimestampNTZType | StringType => true
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS => true
    case _ => false
  }

  /** ORDER BY key types for PEER detection (RANGE running frames,
    * rank/dense_rank): the partition-key lane plus double/float, whose
    * equality runs on normalized bits (-0.0 folded to 0.0, NaN
    * canonicalized) — exactly SQLOrderingUtil's compare==0 classes, the
    * ordering the row WindowExec groups peers with. Doubles stay
    * excluded from partition GROUPING, whose hashing semantics are a
    * different contract. */
  def supportedPeerType(dt: DataType): Boolean =
    supportedPartType(dt) || dt == DoubleType || dt == FloatType

  /** Normalized order-key bits for a double: bit-equality ⇔
    * SQLOrderingUtil.compareDoubles == 0. */
  def peerBits(d: Double): Long =
    java.lang.Double.doubleToLongBits(
      if (java.lang.Double.isNaN(d)) Double.NaN else if (d == 0.0) 0.0 else d)

  // Row-lane helpers shared by every row face (the streaming, deferred,
  // size-based and suffix faces of GraftColumnarWindowExec, and the
  // offset, sliding and RANGE-slide nodes).

  /** Long-lane value of a non-null row column: integral/date/bool widen,
    * Decimal64 reads its unscaled long, timestamps read their micros. */
  def rowLong(r: InternalRow, ord: Int, dt: DataType): Long = dt match {
    case ByteType => r.getByte(ord).toLong
    case ShortType => r.getShort(ord).toLong
    case IntegerType | DateType => r.getInt(ord).toLong
    case BooleanType => if (r.getBoolean(ord)) 1L else 0L
    case d: DecimalType => r.getDecimal(ord, d.precision, d.scale).toUnscaledLong
    // double/float reach here only as PEER keys (normalized bits)
    case DoubleType => peerBits(r.getDouble(ord))
    case FloatType => peerBits(r.getFloat(ord).toDouble)
    case _ => r.getLong(ord)
  }

  /** Double-lane value of a non-null row column. */
  def rowDbl(r: InternalRow, ord: Int, dt: DataType): Double = dt match {
    case FloatType => r.getFloat(ord).toDouble
    case ByteType => r.getByte(ord).toDouble
    case ShortType => r.getShort(ord).toDouble
    case IntegerType => r.getInt(ord).toDouble
    case LongType => r.getLong(ord).toDouble
    case _ => r.getDouble(ord)
  }

  /** Boxed catalyst value of one row column (the boxed lane: first/last,
    * nth_value, lag/lead). `copy` clones UTF8Strings — the child may
    * reuse its row buffer, and buffered values outlive it; a face whose
    * rows are already copied passes false. */
  def readBoxed(r: InternalRow, ord: Int, dt: DataType, copy: Boolean = true): Any =
    if (r.isNullAt(ord)) null
    else dt match {
      case LongType | TimestampType | TimestampNTZType => r.getLong(ord)
      case IntegerType | DateType => r.getInt(ord)
      case ShortType => r.getShort(ord)
      case ByteType => r.getByte(ord)
      case BooleanType => r.getBoolean(ord)
      case DoubleType => r.getDouble(ord)
      case FloatType => r.getFloat(ord)
      case d: DecimalType => r.getDecimal(ord, d.precision, d.scale)
      case StringType => if (copy) r.getUTF8String(ord).clone() else r.getUTF8String(ord)
      case other => throw new IllegalStateException(s"bad boxed window value type $other")
    }

  /** Writes long-lane value `v` into slot `s` of `out` as output type `dt`. */
  def emitLong(out: InternalRow, s: Int, dt: DataType, v: Long): Unit = dt match {
    case LongType | TimestampType | TimestampNTZType => out.update(s, v)
    case IntegerType | DateType => out.update(s, v.toInt)
    case ShortType => out.update(s, v.toShort)
    case ByteType => out.update(s, v.toByte)
    case BooleanType => out.update(s, v != 0L)
    case d: DecimalType => out.update(s, Decimal.createUnsafe(v, d.precision, d.scale))
    case _ => out.update(s, v)
  }

  /** Writes double-lane value `v` into slot `s` of `out` as output type `dt`. */
  def emitDbl(out: InternalRow, s: Int, dt: DataType, v: Double): Unit = dt match {
    case FloatType => out.update(s, v.toFloat)
    case _ => out.update(s, v)
  }

  /** Whether spec `sp` keeps running state in [[Accumulators]]: the
    * aggregates (fn 0-5) and the boxed first/last/nth_value (fn 9-11). */
  private def accumulates(sp: WinAggSpec): Boolean = sp.fn < 6 || (sp.fn >= 9 && sp.fn <= 11)

  /** The running accumulators of the streaming, deferred and size-based
    * row faces: one slot per window spec (`inTypes` = each spec's input
    * column type), folded row by row and read back as each spec's
    * value. Specs that do not [[accumulates]] are skipped. */
  final class Accumulators(ss: Array[WinAggSpec], inTypes: Array[DataType]) {
    private val nS = ss.length
    private val long = new Array[Long](nS)
    private val dbl = new Array[Double](nS)
    private val cnt = new Array[Long](nS)
    private val seen = new Array[Boolean](nS)
    // boxed lane (first/last/nth): catalyst value, with `seen` as the
    // "observed" flag because the stored value itself may be null
    // (first over a leading null row with ignoreNulls=false)
    private val any = new Array[Any](nS)

    def reset(): Unit = {
      java.util.Arrays.fill(long, 0L)
      java.util.Arrays.fill(dbl, 0.0)
      java.util.Arrays.fill(cnt, 0L)
      java.util.Arrays.fill(seen, false)
      java.util.Arrays.fill(any.asInstanceOf[Array[AnyRef]], null)
    }

    /** Copies every slot of `from` — the ring face's per-row snapshot. */
    def copyFrom(from: Accumulators): Unit = {
      System.arraycopy(from.long, 0, long, 0, nS)
      System.arraycopy(from.dbl, 0, dbl, 0, nS)
      System.arraycopy(from.cnt, 0, cnt, 0, nS)
      System.arraycopy(from.seen, 0, seen, 0, nS)
      System.arraycopy(from.any, 0, any, 0, nS)
    }

    /** Folds `row` into every accumulating spec. */
    def update(row: InternalRow): Unit = {
      var s = 0
      while (s < nS) {
        val sp = ss(s)
        if (accumulates(sp)) {
          val nullIn = sp.col >= 0 && row.isNullAt(sp.col)
          sp.fn match {
            case 0 => // sum
              if (!nullIn) {
                if (sp.lane == 0) {
                  val x = rowLong(row, sp.col, inTypes(s))
                  if (sp.ansi) {
                    try long(s) = Math.addExact(long(s), x)
                    catch {
                      case _: ArithmeticException =>
                        throw org.apache.spark.sql.errors.QueryExecutionErrors
                          .arithmeticOverflowError("long overflow", "try_add", null)
                    }
                  } else long(s) += x
                } else dbl(s) += rowDbl(row, sp.col, inTypes(s))
                seen(s) = true
              }
            case 1 => if (!nullIn) cnt(s) += 1 // count(col)
            case 5 => cnt(s) += 1 // count(*)
            case 2 | 3 => // min / max
              if (!nullIn) {
                if (sp.lane == 0) {
                  val x = rowLong(row, sp.col, inTypes(s))
                  if (!seen(s) || (if (sp.fn == 2) x < long(s) else x > long(s))) long(s) = x
                } else {
                  val x = rowDbl(row, sp.col, inTypes(s))
                  val c = SQLOrderingUtil.compareDoubles(x, dbl(s))
                  if (!seen(s) || (if (sp.fn == 2) c < 0 else c > 0)) dbl(s) = x
                }
                seen(s) = true
              }
            case 4 => // avg: double sum + count
              if (!nullIn) {
                dbl(s) += (if (sp.lane == 0) rowLong(row, sp.col, inTypes(s)).toDouble
                  else rowDbl(row, sp.col, inTypes(s)))
                cnt(s) += 1
              }
            case 9 => // first (ign: first non-null; else first row's value)
              if (!seen(s) && !(sp.ign && nullIn)) {
                any(s) = readBoxed(row, sp.col, inTypes(s))
                seen(s) = true
              }
            case 10 => // last (ign: last non-null; else current row's value)
              if (!(sp.ign && nullIn)) {
                any(s) = readBoxed(row, sp.col, inTypes(s))
                seen(s) = true
              }
            case _ => // nth_value: the nth (1-based) qualifying frame row
              if (!(sp.ign && nullIn)) {
                cnt(s) += 1
                if (cnt(s) == sp.nth) {
                  any(s) = readBoxed(row, sp.col, inTypes(s))
                  seen(s) = true
                }
              }
          }
        }
        s += 1
      }
    }

    /** Writes accumulating spec `s`'s current value into slot `s` of `out`. */
    def write(out: InternalRow, s: Int): Unit = {
      val sp = ss(s)
      sp.fn match {
        case 1 | 5 => out.update(s, cnt(s))
        case 4 => if (cnt(s) > 0) out.update(s, dbl(s) / cnt(s)) else out.setNullAt(s)
        case 9 | 10 | 11 => if (seen(s)) out.update(s, any(s)) else out.setNullAt(s)
        case _ => // sum / min / max
          if (!seen(s)) out.setNullAt(s)
          else if (sp.lane == 0) emitLong(out, s, sp.outType, long(s))
          else emitDbl(out, s, sp.outType, dbl(s))
      }
    }

    /** [[write]] for every accumulating spec. */
    def writeAll(out: InternalRow): Unit = {
      var s = 0
      while (s < nS) {
        if (accumulates(ss(s))) write(out, s)
        s += 1
      }
    }
  }
}
