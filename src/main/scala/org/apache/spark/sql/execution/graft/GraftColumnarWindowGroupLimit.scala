// In org.apache.spark.sql.execution.graft alongside the other columnar
// operators (RowToColumnConverter access; the reference's placement is
// org.apache.spark.sql.comet).
package org.apache.spark.sql.execution.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{RowToColumnConverter, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Columnar PARTIAL WindowGroupLimit (the rank-1/top-k-per-key pre-filter
  * Spark pushes below the shuffle for `row_number() ... WHERE rn <= k`;
  * reference analogue: CometWindowExec is disabled, but DataFusion's
  * planner has the same limit pushdown for window ranks).
  *
  * Spark's own partial operator REQUIRES SORTED INPUT — EnsureRequirements
  * plants a map-side SortExec over the full scan just so the pre-filter
  * can walk group runs. This probe replaces Sort + WindowGroupLimit with
  * a hash map of bounded per-group heaps over the scan's ColumnarBatches:
  * NO map-side sort of the corpus, losers cost one threshold compare
  * against their group's current k-th row, and only heap-entering winners
  * are materialized. Memory is bounded by `maxGroups` live groups; on
  * overflow the probe BAILS OUT ADAPTIVELY: it drains the collected
  * candidates and passes every remaining batch through zero-copy.
  * Emitting extra candidate rows is always correct for the Partial mode
  * because the exchange above re-groups and the final WindowGroupLimit
  * re-filters — and when group cardinality approaches the row count the
  * pre-filter prunes ~nothing anyway (the row operator ships ~all rows
  * too), so the bailout matches its informativeness while still
  * skipping the sort. A/B at sf0.1 (FilterMicroBench): 0.18x on
  * 1000-group keys, 0.90x CDC, 0.94-0.96x on ~150k-group keys via the
  * bailout (1.3-1.4x without it — the bailout is what makes default-ON
  * honest).
  * The rule only swaps under a ShuffleExchange parent, so no downstream
  * operator can rely on the sorted-run order the row operator emits.
  *
  * At 100 TB this is the CDC-compaction map stage: the row path sorts
  * every input partition of the change log; this path touches each
  * change once and ships ≤ (#keys x k) candidates per partition.
  */
case class GraftColumnarWindowGroupLimitExec(
    partIdx: Seq[Int],
    partTypes: Seq[DataType],
    keys: Seq[TopKKeySpec],
    limit: Int,
    maxGroups: Int,
    child: SparkPlan)
    extends UnaryExecNode {

  require(partIdx.nonEmpty && partIdx.size <= 2, "1 or 2 partition keys")

  override def output: Seq[Attribute] = child.output
  override def supportsColumnar: Boolean = true
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "candidate rows emitted"),
    "numBailouts" -> SQLMetrics.createMetric(sparkContext, "group-map overflow bailouts"))

  import GraftColumnarTopKExec.{cmpBoxed, cmpCandidate, entryOrdering, keyOps, Entry, KeyOps}

  private class GroupHeap(entryOrd: Ordering[Entry]) {
    val heap = new scala.collection.mutable.PriorityQueue[Entry]()(entryOrd)
  }

  private def compiled = {
    val specs = keys.toArray
    (specs, specs.map(s => keyOps(s.dt)), partIdx.toArray, partTypes.map(keyOps).toArray)
  }

  /** Candidate rows re-emitted as ColumnarBatches (no transition below;
    * the exchange's ColumnarToRow above touches ≤ #groups x k candidate
    * rows). After an overflow bailout the child's remaining batches pass
    * through ZERO-COPY — the probe stops pruning, never stops flowing.
    */
  override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val (specs, ops, pIdx, pOps) = compiled
    val (inM, outM, bailM) =
      (metrics("numInputRows"), metrics("numOutputRows"), metrics("numBailouts"))
    val (lim, maxG) = (limit, maxGroups)
    val schema = StructType(output.map(a => StructField(a.name, a.dataType, a.nullable)))
    child.executeColumnar().mapPartitionsInternal { batches =>
      val entryOrd = entryOrdering(specs, ops)
      new Iterator[ColumnarBatch] {
        private val map = new java.util.HashMap[AnyRef, GroupHeap]()
        private var passthrough = false
        private var pendingRows: Iterator[InternalRow] = Iterator.empty
        private var done = false
        private val converter = new RowToColumnConverter(schema)

        private def drain(): Iterator[InternalRow] = {
          val rows = new scala.collection.mutable.ArrayBuffer[InternalRow]()
          map.values.forEach(g => g.heap.foreach(e => rows += e.row))
          map.clear()
          rows.iterator
        }

        private def groupKey(pcols: Array[ColumnVector], i: Int): AnyRef = {
          val k0 = if (pcols(0).isNullAt(i)) null else pOps(0).extract(pcols(0), i)
          if (pIdx.length == 1) k0
          else {
            val k1 = if (pcols(1).isNullAt(i)) null else pOps(1).extract(pcols(1), i)
            (k0, k1)
          }
        }

        /** Returns -1 when the batch was fully absorbed, else the row
          * index at which the group map overflowed. Rows before the
          * overflow index are represented by their heaps; ONLY the
          * remainder may be re-emitted (a whole-batch replay would ship
          * heap-held rows twice, and duplicate candidates corrupt the
          * final row_number for k > 1).
          */
        private def insertBatch(batch: ColumnarBatch): Int = {
          val n = batch.numRows()
          val pcols = pIdx.map(batch.column)
          val ocols = specs.map(s => batch.column(s.col))
          var i = 0
          while (i < n) {
            val gk = groupKey(pcols, i)
            var g = map.get(gk)
            if (g == null) {
              if (map.size >= maxG) return i
              g = new GroupHeap(entryOrd)
              map.put(gk, g)
            }
            val accept =
              if (g.heap.size < lim) true
              else cmpCandidate(specs, ops, ocols, i, g.heap.head.keys) < 0
            if (accept) {
              val ks = new Array[AnyRef](specs.length)
              var j = 0
              while (j < specs.length) {
                ks(j) = if (ocols(j).isNullAt(i)) null else ops(j).extract(ocols(j), i)
                j += 1
              }
              g.heap.enqueue(new Entry(ks, batch.getRow(i).copy()))
              if (g.heap.size > lim) g.heap.dequeue()
            }
            i += 1
          }
          -1
        }

        private def rowsToBatch(rows: Iterator[InternalRow]): ColumnarBatch = {
          val vectors = OnHeapColumnVector.allocateColumns(GraftColumnarTopKExec.batchRows, schema)
          var n = 0
          while (n < GraftColumnarTopKExec.batchRows && rows.hasNext) {
            converter.convert(rows.next(),
              vectors.toArray[org.apache.spark.sql.execution.vectorized.WritableColumnVector])
            n += 1
            outM.add(1)
          }
          new ColumnarBatch(vectors.toArray[ColumnVector], n)
        }

        private var carry: ColumnarBatch = null

        @scala.annotation.tailrec
        private def advance(): Unit =
          if (!pendingRows.hasNext && carry == null && !done) {
            if (passthrough) {
              if (batches.hasNext) { carry = batches.next(); inM.add(carry.numRows()); outM.add(carry.numRows()) }
              else done = true
            } else if (batches.hasNext) {
              val b = batches.next()
              inM.add(b.numRows())
              val ovf = insertBatch(b)
              if (ovf < 0) advance()
              else {
                // overflow: drain candidates + the unprocessed remainder
                // of THIS batch (copied — the buffer is reused), then
                // pass later batches through zero-copy.
                bailM.add(1)
                passthrough = true
                val rest = (ovf until b.numRows()).map(b.getRow(_).copy())
                pendingRows = drain() ++ rest.iterator
              }
            } else { done = true; pendingRows = drain() }
          }

        override def hasNext: Boolean = {
          advance(); pendingRows.hasNext || carry != null
        }
        override def next(): ColumnarBatch = {
          advance()
          if (pendingRows.hasNext) rowsToBatch(pendingRows)
          else { val b = carry; carry = null; b }
        }
      }
    }
  }

  /** Row fallback: the same bounded-heap algorithm with boxed keys read
    * from InternalRows — present for completeness; the planner routes
    * through the columnar path.
    */
  override protected def doExecute(): RDD[InternalRow] = {
    val (specs, ops, pIdx, pOps) = compiled
    val pTypes = partTypes.toArray
    val oTypes = keys.map(_.dt).toArray
    val (lim, maxG) = (limit, maxGroups)
    child.execute().mapPartitionsInternal { rows =>
      val entryOrd = entryOrdering(specs, ops)
      val map = new java.util.HashMap[AnyRef, scala.collection.mutable.PriorityQueue[Entry]]()
      val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
      def boxed(r: InternalRow, ord: Int, dt: DataType): AnyRef = {
        if (r.isNullAt(ord)) null
        else dt match {
          case StringType => r.getUTF8String(ord).clone()
          case _ => r.get(ord, dt).asInstanceOf[AnyRef]
        }
      }
      var passthrough = false
      val tail = new scala.collection.mutable.ArrayBuffer[InternalRow]()
      rows.foreach { r =>
        if (passthrough) tail += r.copy()
        else {
        val k0 = boxed(r, pIdx(0), pTypes(0))
        val gk: AnyRef = if (pIdx.length == 1) k0 else (k0, boxed(r, pIdx(1), pTypes(1)))
        var g = map.get(gk)
        if (g == null) {
          if (map.size >= maxG) {
            // adaptive bailout, mirroring the columnar path
            map.values.forEach(h => h.foreach(e => out += e.row)); map.clear()
            passthrough = true
            tail += r.copy()
          } else {
          g = new scala.collection.mutable.PriorityQueue[Entry]()(entryOrd)
          map.put(gk, g)
          }
        }
        if (!passthrough) {
        val ks = Array.tabulate[AnyRef](specs.length)(j => boxed(r, specs(j).col, oTypes(j)))
        val accept =
          if (g.size < lim) true
          else {
            var c = 0; var j = 0
            while (c == 0 && j < specs.length) {
              c = cmpBoxed(specs(j), ops(j), ks(j), g.head.keys(j)); j += 1
            }
            c < 0
          }
        if (accept) {
          g.enqueue(new Entry(ks, r.copy()))
          if (g.size > lim) g.dequeue()
        }
        }
        }
      }
      map.values.forEach(h => h.foreach(e => out += e.row))
      out.iterator ++ tail.iterator
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftColumnarWindowGroupLimitExec =
    copy(child = newChild)
}

object GraftColumnarWindowGroupLimitExec {
  /** Partition-key and order-key types the probe supports (the TopK set). */
  def supportedKeyType(dt: DataType): Boolean = GraftColumnarTopKExec.supportedKeyType(dt)
}

/** Columnar PARTIAL WindowGroupLimit for RANK / DENSE_RANK (`rank()
  * ... WHERE rk <= k` — ties must survive, so the row_number probe's
  * exact k-rows-per-group heap does not apply). Instead of storing
  * candidate rows at all, each group keeps only a bounded THRESHOLD
  * TRACKER over the order keys:
  *
  *   - rank: a max-heap of the k smallest keys seen (multiset) — a row
  *     is a candidate iff its key is <= the heap max (tie included);
  *     strict improvements displace the max, ties leave the heap
  *     unchanged (the threshold is already tight).
  *   - dense_rank: the same, but over the k smallest DISTINCT keys
  *     (a bounded sorted multiset with dedup).
  *
  * Accepted rows are emitted IMMEDIATELY as zero-copy selection-vector
  * batches — nothing is buffered, so per-group memory is k boxed keys
  * regardless of tie width. Late rows that would have displaced earlier
  * acceptances mean the emitted set is a SUPERSET of rank<=k — always
  * correct for Partial mode (the exchange re-groups and the final row
  * WindowGroupLimit re-filters exactly), the same contract the
  * row_number probe's overflow bailout leans on. Same maxGroups
  * adaptive bailout: overflow → remaining batches pass through
  * zero-copy (nothing to drain — candidates already flowed out).
  *
  * A/B at sf0.1 (FilterMicroBench): wgl-rank2-ties 0.66x (rank <= 2
  * over ~400k orders), wgl-dense-rank2 0.36x (dense_rank <= 2 over 1k
  * suppliers) — like the row_number probe this replaces the map-side
  * Sort of the whole input with one hash-probe per row, and the
  * selection-vector emission avoids even the candidate materialization
  * the row_number probe pays. Default ON under the shared wgl gate.
  */
case class GraftColumnarRankGroupLimitExec(
    partIdx: Seq[Int],
    partTypes: Seq[DataType],
    keys: Seq[TopKKeySpec],
    limit: Int,
    dense: Boolean,
    maxGroups: Int,
    child: SparkPlan)
    extends UnaryExecNode {

  require(partIdx.nonEmpty && partIdx.size <= 2, "1 or 2 partition keys")

  override def output: Seq[Attribute] = child.output
  override def supportsColumnar: Boolean = true
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "candidate rows emitted"),
    "numBailouts" -> SQLMetrics.createMetric(sparkContext, "group-map overflow bailouts"))

  import GraftColumnarTopKExec.{cmpBoxed, cmpCandidate, entryOrdering, keyOps, Entry, KeyOps}

  /** Bounded threshold tracker: the k smallest key tuples (multiset for
    * rank, distinct for dense_rank), max on top. */
  private final class Tracker(entryOrd: Ordering[Entry], lim: Int, dense: Boolean) {
    private val heap = new scala.collection.mutable.PriorityQueue[Entry]()(entryOrd)
    /** cmp of candidate vs current threshold: <0 better, 0 tie, >0 worse;
      * Int.MinValue when the tracker is not yet full (always accept). */
    def admit(specs: Array[TopKKeySpec], ops: Array[KeyOps],
        cols: Array[ColumnVector], i: Int): Boolean = {
      if (heap.size < lim) {
        val c = if (heap.isEmpty) -1 else cmpCandidate(specs, ops, cols, i, heap.head.keys)
        if (dense && c == 0) return true // tie of an existing distinct key: admit, no insert
        // not full: every new key (distinct or not) joins the tracker
        val ks = new Array[AnyRef](specs.length)
        var j = 0
        while (j < specs.length) {
          ks(j) = if (cols(j).isNullAt(i)) null else ops(j).extract(cols(j), i)
          j += 1
        }
        if (!dense || !containsKey(ks, specs, ops)) heap.enqueue(new Entry(ks, null))
        true
      } else {
        val c = cmpCandidate(specs, ops, cols, i, heap.head.keys)
        if (c > 0) false
        else if (c == 0) true // tie of the k-th: admit, threshold unchanged
        else {
          // strictly better: displaces the current max (for dense, only
          // if it is a NEW distinct key)
          val ks = new Array[AnyRef](specs.length)
          var j = 0
          while (j < specs.length) {
            ks(j) = if (cols(j).isNullAt(i)) null else ops(j).extract(cols(j), i)
            j += 1
          }
          if (!dense || !containsKey(ks, specs, ops)) {
            heap.enqueue(new Entry(ks, null))
            heap.dequeue()
          }
          true
        }
      }
    }
    /** O(k) distinct check — k is the query's LIMIT (tiny). */
    private def containsKey(ks: Array[AnyRef], specs: Array[TopKKeySpec],
        ops: Array[KeyOps]): Boolean =
      heap.exists { e =>
        var j = 0
        var eq = true
        while (eq && j < specs.length) {
          if (cmpBoxed(specs(j), ops(j), ks(j), e.keys(j)) != 0) eq = false
          j += 1
        }
        eq
      }
  }

  override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val specs = keys.toArray
    val ops = specs.map(s => keyOps(s.dt))
    val pIdx = partIdx.toArray
    val pOps = partTypes.map(keyOps).toArray
    val (inM, outM, bailM) =
      (metrics("numInputRows"), metrics("numOutputRows"), metrics("numBailouts"))
    val (lim, maxG, dns) = (limit, maxGroups, dense)
    child.executeColumnar().mapPartitionsInternal { batches =>
      val entryOrd = entryOrdering(specs, ops)
      val map = new java.util.HashMap[AnyRef, Tracker]()
      var passthrough = false
      var sel = new Array[Int](1 << 10)

      def groupKey(pcols: Array[ColumnVector], i: Int): AnyRef = {
        val k0 = if (pcols(0).isNullAt(i)) null else pOps(0).extract(pcols(0), i)
        if (pIdx.length == 1) k0
        else {
          val k1 = if (pcols(1).isNullAt(i)) null else pOps(1).extract(pcols(1), i)
          (k0, k1)
        }
      }

      batches.flatMap { batch =>
        val n = batch.numRows()
        inM.add(n)
        if (passthrough) { outM.add(n); Some(batch) }
        else {
          if (sel.length < n) sel = new Array[Int](n)
          val pcols = pIdx.map(batch.column)
          val ocols = specs.map(s => batch.column(s.col))
          var m = 0
          var i = 0
          var overflowAt = -1
          while (i < n && overflowAt < 0) {
            val gk = groupKey(pcols, i)
            var g = map.get(gk)
            if (g == null) {
              if (map.size >= maxG) overflowAt = i
              else {
                g = new Tracker(entryOrd, lim, dns)
                map.put(gk, g)
              }
            }
            if (overflowAt < 0) {
              if (g.admit(specs, ops, ocols, i)) { sel(m) = i; m += 1 }
              i += 1
            }
          }
          if (overflowAt >= 0) {
            // overflow: admit the whole remainder of this batch (safe
            // superset), pass later batches through zero-copy
            bailM.add(1)
            passthrough = true
            map.clear()
            var r = overflowAt
            while (r < n) { sel(m) = r; m += 1; r += 1 }
          }
          if (m == 0) None
          else {
            val selOut = java.util.Arrays.copyOf(sel, m)
            val cols = new Array[ColumnVector](batch.numCols())
            var o = 0
            while (o < cols.length) {
              cols(o) = new org.apache.spark.sql.graft.SelectedColumnVector(batch.column(o), selOut)
              o += 1
            }
            outM.add(m)
            Some(new ColumnarBatch(cols, m))
          }
        }
      }
    }
  }

  /** Row fallback — the planner routes columnar (supportsColumnar); the
    * rule only swaps whole Sort+WindowGroupLimit stacks. */
  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(
      "GraftColumnarRankGroupLimitExec is columnar-only")

  override protected def withNewChildInternal(newChild: SparkPlan): GraftColumnarRankGroupLimitExec =
    copy(child = newChild)
}
