// In org.apache.spark.sql.execution.graft alongside the other columnar
// operators — same placement as the reference's org.apache.spark.sql.comet.
package org.apache.spark.sql.execution.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graft.{DoubleBuildVector, LongBuildVector, SelectedColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Columnar per-partition sort (reference analogue: DataFusion SortExec,
  * native/core/src/execution/planner.rs:1211-1245; serde
  * spark/src/main/scala/org/apache/spark/sql/comet/serde/operator/CometSort.scala).
  *
  * Serves the NARROW shape only: at most [[GraftColumnarSortExec.maxColumns]]
  * output columns, each of the long family (integral, boolean, date,
  * timestamp, Decimal64 unscaled) or the double family. There it swaps by
  * default (spark.graft.columnar.sort.narrow.enabled; q164 pins the plan)
  * after a winning A/B against Tungsten's row sort (FilterMicroBench
  * sf0.1, 4 cores, 3 session runs of min-of-5: 1col 0.68-0.80x,
  * 4col-2key 0.47-0.52x, Decimal64 key 0.49-0.52x; 3col at parity,
  * 0.97-1.04x). Wider or string outputs keep the row sort: the same
  * kernel lost on them in the same runs (16 columns under one long key
  * 1.44-2.00x, under a mixed double/long 2-key order 1.01-1.32x, a
  * string key 1.14-1.74x), because it buffers every output column — a
  * cost the reference escapes only through a native arena.
  *
  * The sort is a HYBRID: LSD radix on the bit-mapped first key (the
  * algorithm class Tungsten's prefix sort wins with), then comparison
  * sort only inside first-key tie runs.
  *
  * Replaces `ColumnarToRow + SortExec` above a columnar block: input
  * batches are decomposed COLUMN-WISE into typed primitive arrays (the
  * parquet reader reuses its vectors, so a copy is mandatory for any
  * sort — Tungsten pays the same copy row-wise into UnsafeRows), an
  * index array is sorted by comparing the key arrays directly (no row
  * objects, no per-comparison virtual dispatch beyond one call per key
  * column), and output batches are zero-copy [[SelectedColumnVector]]
  * gathers of the sorted index over the buffered columns.
  *
  * Memory/scale: SPILLS like Tungsten's UnsafeExternalSorter and
  * DataFusion's spilling SortExec. Buffer growth is reserved with the
  * task memory manager batch-by-batch; when the manager refuses part of
  * a reservation (executor pressure) or the buffered bytes cross
  * `spark.graft.columnar.sort.spill.threshold` (256 MiB default), the
  * current block is sorted and written to local disk as one
  * length-prefixed compressed run, the buffers restart empty, and at
  * input end the disk runs + final in-memory block k-way merge through
  * per-run cursors. The common scan-split-sized partition never spills
  * and keeps the zero-copy sorted-gather emission; an oversized one
  * (bucketed scan, join output, skew) degrades to sequential run IO —
  * the same shape Tungsten degrades to — instead of OOM, so the
  * planning rule no longer restricts the swap to scan-bounded children.
  *
  * `global=true` instances keep their contract through the planner: the
  * required OrderedDistribution was enforced by EnsureRequirements
  * before this rule runs, and per-partition sorting is all SortExec
  * itself does at execution time.
  */
case class GraftColumnarSortExec(
    keys: Seq[TopKKeySpec],
    sortOrder: Seq[SortOrder],
    global: Boolean,
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def supportsColumnar: Boolean = true
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = sortOrder

  override lazy val metrics = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numBatches" -> SQLMetrics.createMetric(sparkContext, "number of output batches"),
    "sortTime" -> SQLMetrics.createTimingMetric(sparkContext, "index sort time"),
    "spillCount" -> SQLMetrics.createMetric(sparkContext, "number of spilled sorted runs"),
    "spillBytes" -> SQLMetrics.createSizeMetric(sparkContext, "spilled bytes"))

  import GraftColumnarSortExec._

  override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val colTypes = child.output.map(_.dataType).toArray
    val specs = keys.toArray
    val spillThreshold = conf.getConfString(
      spillThresholdKey, defaultSpillThreshold.toString).toLong
    val (inM, batchM, timeM) =
      (metrics("numInputRows"), metrics("numBatches"), metrics("sortTime"))
    val (spillM, spillBytesM) = (metrics("spillCount"), metrics("spillBytes"))
    child.executeColumnar().mapPartitionsInternal { batches =>
      val dbl = colTypes.map(doubleLane)
      val bufs: Array[ColBuf] = colTypes.map(newBuf)
      // Coarse per-batch task-memory accounting (GraftMemoryReservation):
      // Tungsten consumers on the same executor SEE this memory and spill
      // earlier instead of OOMing blind; a refused reservation (their
      // pressure, seen from here) spills the current sorted run to disk.
      // Released at task end.
      val res = org.apache.spark.sql.graft.GraftMemoryReservation.forTask()
      var reserved = 0L
      var n = 0
      val spills = scala.collection.mutable.ArrayBuffer.empty[SpillFile]
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => spills.foreach(_.file.delete())))

      def sortCurrent(): Array[Int] = {
        val keyBufs = specs.map(s => bufs(s.col))
        val idx = new Array[Int](n)
        var i = 0
        while (i < n) { idx(i) = i; i += 1 }
        val t0 = System.nanoTime()
        sortIndices(idx, n, specs, keyBufs)
        timeM.add((System.nanoTime() - t0) / 1000000)
        idx
      }
      def spillCurrent(): Unit = {
        val run = writeRun(bufs, sortCurrent(), n)
        spills += run
        spillM.add(1)
        spillBytesM.add(run.file.length())
        var c = 0
        while (c < bufs.length) { bufs(c).reset(); c += 1 }
        n = 0
        res.foreach(_.freeAll())
        reserved = 0L
      }

      // Build phase: a FOREIGN Tungsten consumer's allocation can force
      // the current block out as a run (the CometTaskMemoryManager
      // role). Spark invokes spill on the task's own thread, so this
      // runs between batch appends — a consistent point. Disarmed below
      // before the buffers become live emission state.
      res.foreach { r =>
        r.armSpillHandler { () =>
          if (n == 0) 0L
          else { val freed = r.getUsed; spillCurrent(); freed }
        }
      }

      batches.foreach { batch =>
        val rows = batch.numRows()
        inM.add(rows)
        var c = 0
        while (c < bufs.length) { bufs(c).append(batch.column(c), rows); c += 1 }
        n += rows
        var held = 0L
        c = 0
        while (c < bufs.length) { held += bufs(c).trackedBytes; c += 1 }
        var granted = true
        if (held > reserved) {
          granted = res.forall(_.reserve(held - reserved))
          reserved = held
        }
        // Spill triggers: executor memory pressure (the task memory
        // manager refused part of the reservation — some Tungsten
        // consumer holds the rest) or the structural byte threshold.
        // Either way the current block is sorted, written as one run,
        // and the buffers restart empty with the reservation returned.
        if ((!granted || held > spillThreshold) && n > 0) spillCurrent()
      }

      // emission: the buffers (or their disk-run merge inputs) are now
      // live output state — foreign pressure can no longer flush them
      res.foreach(_.disarmSpillHandler())

      if (spills.isEmpty) {
        // common case — everything fit: sort once, emit zero-copy
        // gathers of the sorted index over the buffered columns
        if (n == 0) Iterator.empty
        else {
          res.foreach(_.reserve(4L * n)) // the sort index itself
          val idx = sortCurrent()
          val baseVectors = bufs.map(_.vector())
          new Iterator[ColumnarBatch] {
            private var off = 0
            override def hasNext: Boolean = off < n
            override def next(): ColumnarBatch = {
              val len = math.min(batchRows, n - off)
              val sel = java.util.Arrays.copyOfRange(idx, off, off + len)
              off += len
              val cols = new Array[ColumnVector](baseVectors.length)
              var c = 0
              while (c < cols.length) {
                cols(c) = new SelectedColumnVector(baseVectors(c), sel)
                c += 1
              }
              batchM.add(1)
              new ColumnarBatch(cols, len)
            }
          }
        }
      } else {
        // spilled: k-way merge the disk runs + the final in-memory block.
        // Bounded fan-in: above mergeFanIn runs, intermediate passes
        // merge groups to single files first (fd- and buffer-bounded,
        // UnsafeExternalSorter's multi-pass shape); `spills` is mutated
        // in place so the completion listener deletes the live set.
        while (spills.length > mergeFanIn) {
          val merged = spills.toSeq.grouped(mergeFanIn).map { g =>
            if (g.length == 1) g.head else mergeSpillGroup(g, specs, dbl)
          }.toSeq
          spills.clear()
          spills ++= merged
        }
        val runs = scala.collection.mutable.ArrayBuffer.empty[SortedRun]
        if (n > 0) {
          res.foreach(_.reserve(4L * n))
          runs += new MemoryRun(bufs, sortCurrent(), n)
        }
        spills.foreach(sp => runs += new DiskRun(sp, bufs.length))
        mergeRuns(runs.toSeq, specs, dbl, colTypes, () => batchM.add(1))
      }
    }
  }

  /** Row fallback — present for completeness; the planner routes through
    * columnar (supportsColumnar).
    */
  override protected def doExecute(): RDD[InternalRow] = {
    val ord = new org.apache.spark.sql.catalyst.expressions.codegen
      .LazilyGeneratedOrdering(sortOrder, child.output)
    child.execute().mapPartitionsInternal { iter =>
      val proj = UnsafeProjection.create(output, output)
      iter.map(_.copy()).toArray.sortWith((a, b) => ord.compare(a, b) < 0)
        .iterator.map(proj)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftColumnarSortExec =
    copy(child = newChild)
}

object GraftColumnarSortExec {
  /** Output batch chunk size for the sorted gather. */
  val batchRows = 4096

  /** Max simultaneous spill-run streams in one merge; beyond this the
    * intermediate merge-to-disk pass runs first. 64 runs × 64 KiB read
    * buffers = 4 MiB per task — comfortably inside executor memory
    * even at 32 concurrent tasks, and far under any fd ulimit. */
  val mergeFanIn = 64

  /** Buffered-bytes threshold above which the partition spills a sorted
    * run to disk (a spill is also forced by task-memory refusal
    * regardless of this value). */
  val spillThresholdKey = "spark.graft.columnar.sort.spill.threshold"
  val defaultSpillThreshold: Long = 256L << 20

  /** The widest output the sort serves (see the exec's scaladoc). */
  val maxColumns = 4

  def supportedColType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         DateType | TimestampType | TimestampNTZType |
         DoubleType | FloatType => true
    // Decimal64: a column's values share one (p, s), so unscaled-long
    // order == numeric order — the long lane (and its radix path)
    // carries money columns unchanged. A/B sort-narrow-dec (sf0.1,
    // 3 runs): 0.49-0.58x — the strongest narrow win, because the row
    // path pays per-comparison Decimal object compares where the radix
    // lane pays none
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS => true
    case _ => false
  }

  /** Double-family columns buffer as doubles and compare in Spark's
    * double order; every other supported type rides the long lane. */
  private def doubleLane(dt: DataType): Boolean = dt == DoubleType || dt == FloatType

  private val initialCap = 1 << 12

  /** Growable column buffer: copies vector slots in (the scan reuses its
    * vectors batch-to-batch, so references cannot be retained), compares
    * by buffered index, re-emits as a ColumnVector for the gather.
    */
  sealed abstract class ColBuf {
    protected var nulls = new Array[Boolean](initialCap)
    protected var n = 0
    /** Copy the value lane into an array of `cap` slots. */
    protected def resize(cap: Int): Unit
    /** A fresh value lane of the initial capacity. */
    protected def clearValues(): Unit

    protected final def ensure(rows: Int): Unit =
      if (n + rows > nulls.length) {
        val cap = math.max(nulls.length * 2, n + rows)
        resize(cap)
        nulls = java.util.Arrays.copyOf(nulls, cap)
      }
    def append(v: ColumnVector, rows: Int): Unit
    /** Append one slot given its null flag and [[bits]] — the merge
      * path's output. */
    def put(isNull: Boolean, bits: Long): Unit
    final def isNull(i: Int): Boolean = nulls(i)
    def cmpRaw(a: Int, b: Int): Int
    /** Slot `i`'s 64 value bits (the long itself, or the double's raw
      * IEEE bits) — the spill-run format. */
    def bits(i: Int): Long
    /** Slot `i` mapped to an unsigned-radix-sortable long that keeps
      * Spark's sort order. */
    def radix(i: Int): Long
    def vector(): ColumnVector
    /** Bytes held (value lane + null flag per slot), read after each
      * append for the coarse task-memory accounting
      * (GraftMemoryReservation). */
    final def trackedBytes: Long = nulls.length * 9L
    /** Serialize slot `i` (null flag + value) to a spill run. */
    final def writeSlot(i: Int, out: java.io.DataOutput): Unit = {
      out.writeBoolean(nulls(i))
      if (!nulls(i)) out.writeLong(bits(i))
    }
    /** Drop the buffered content AND the backing arrays (back to the
      * initial capacity) — called after a run is spilled so the memory
      * is actually returned, not just logically cleared. */
    final def reset(): Unit = {
      clearValues()
      nulls = new Array[Boolean](initialCap)
      n = 0
    }
  }

  private final class LongBuf(dt: DataType) extends ColBuf {
    private var values = new Array[Long](initialCap)
    override protected def resize(cap: Int): Unit = values = java.util.Arrays.copyOf(values, cap)
    override protected def clearValues(): Unit = values = new Array[Long](initialCap)
    private val get: (ColumnVector, Int) => Long = dt match {
      case LongType | TimestampType | TimestampNTZType => (v, i) => v.getLong(i)
      case IntegerType | DateType => (v, i) => v.getInt(i).toLong
      case ShortType => (v, i) => v.getShort(i).toLong
      case ByteType => (v, i) => v.getByte(i).toLong
      case BooleanType => (v, i) => if (v.getBoolean(i)) 1L else 0L
      case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
        (v, i) => v.getDecimal(i, d.precision, d.scale).toUnscaledLong
      case other => throw new IllegalStateException(s"not a long-family type $other")
    }
    override def append(v: ColumnVector, rows: Int): Unit = {
      ensure(rows)
      var i = 0
      while (i < rows) {
        if (v.isNullAt(i)) nulls(n) = true else values(n) = get(v, i)
        n += 1; i += 1
      }
    }
    override def put(isNull: Boolean, bits: Long): Unit = {
      ensure(1)
      nulls(n) = isNull
      values(n) = bits
      n += 1
    }
    override def cmpRaw(a: Int, b: Int): Int = java.lang.Long.compare(values(a), values(b))
    override def bits(i: Int): Long = values(i)
    // flip the sign bit: signed order becomes unsigned order
    override def radix(i: Int): Long = values(i) ^ java.lang.Long.MIN_VALUE
    override def vector(): ColumnVector = new LongBuildVector(dt, values, nulls, n)
  }

  private final class DoubleBuf(dt: DataType) extends ColBuf {
    private var values = new Array[Double](initialCap)
    private val isFloat = dt == FloatType
    override protected def resize(cap: Int): Unit = values = java.util.Arrays.copyOf(values, cap)
    override protected def clearValues(): Unit = values = new Array[Double](initialCap)
    override def append(v: ColumnVector, rows: Int): Unit = {
      ensure(rows)
      var i = 0
      while (i < rows) {
        if (v.isNullAt(i)) nulls(n) = true
        else values(n) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        n += 1; i += 1
      }
    }
    override def put(isNull: Boolean, bits: Long): Unit = {
      ensure(1)
      nulls(n) = isNull
      values(n) = java.lang.Double.longBitsToDouble(bits)
      n += 1
    }
    // compareDoubles = Spark sort semantics: NaN largest, NaN==NaN, -0.0==0.0.
    // Safe for the float lane too: the float→double widening is exact and
    // order-preserving, including NaN handling.
    override def cmpRaw(a: Int, b: Int): Int = SQLOrderingUtil.compareDoubles(values(a), values(b))
    override def bits(i: Int): Long = java.lang.Double.doubleToRawLongBits(values(i))
    // Spark equality canonicalization FIRST (-0.0 → 0.0 so the pair
    // forms ONE tie-run for secondary keys; any NaN → the canonical NaN,
    // which maps above +Inf = NaN-largest), then the IEEE total-order
    // bit trick (negative → flip all bits, positive → flip sign bit)
    override def radix(i: Int): Long = {
      var d = values(i)
      if (d == 0.0) d = 0.0 // collapses -0.0
      else if (java.lang.Double.isNaN(d)) d = java.lang.Double.NaN
      val b = java.lang.Double.doubleToRawLongBits(d)
      if (b < 0) ~b else b ^ java.lang.Long.MIN_VALUE
    }
    override def vector(): ColumnVector = new DoubleBuildVector(dt, values, nulls, n)
  }

  def newBuf(dt: DataType): ColBuf =
    if (doubleLane(dt)) new DoubleBuf(dt) else new LongBuf(dt)

  /** Compare on the key suffix specs(from..): the radix pass resolved
    * specs(0..from-1) already. */
  private def cmpKeysFrom(
      specs: Array[TopKKeySpec], keyBufs: Array[ColBuf], from: Int, a: Int, b: Int): Int = {
    var k = from
    while (k < specs.length) {
      val s = specs(k)
      val buf = keyBufs(k)
      val an = buf.isNull(a)
      val bn = buf.isNull(b)
      val c =
        if (an && bn) 0
        else if (an) { if (s.nullsFirst) -1 else 1 }
        else if (bn) { if (s.nullsFirst) 1 else -1 }
        else { val r = buf.cmpRaw(a, b); if (s.desc) -r else r }
      if (c != 0) return c
      k += 1
    }
    0
  }

  /** LSD radix sort (8 passes x 8 bits) of `keys`+`idx` in tandem over
    * [0, n). Skips passes whose byte is constant (common for
    * small-domain keys). */
  private def radixSortRange(keys: Array[Long], idx: Array[Int], n: Int): Unit = {
    var src = keys
    var srcIdx = idx
    var dst = new Array[Long](n)
    var dstIdx = new Array[Int](n)
    val counts = new Array[Int](256)
    var shift = 0
    while (shift < 64) {
      java.util.Arrays.fill(counts, 0)
      var i = 0
      while (i < n) { counts(((src(i) >>> shift) & 0xff).toInt) += 1; i += 1 }
      // constant byte -> pass is a no-op
      var nonZero = 0
      var b = 0
      while (b < 256 && nonZero <= 1) { if (counts(b) > 0) nonZero += 1; b += 1 }
      if (nonZero > 1) {
        var sum = 0
        b = 0
        while (b < 256) { val c = counts(b); counts(b) = sum; sum += c; b += 1 }
        i = 0
        while (i < n) {
          val slot = counts(((src(i) >>> shift) & 0xff).toInt)
          dst(slot) = src(i)
          dstIdx(slot) = srcIdx(i)
          counts(((src(i) >>> shift) & 0xff).toInt) += 1
          i += 1
        }
        val tk = src; src = dst; dst = tk
        val ti = srcIdx; srcIdx = dstIdx; dstIdx = ti
      }
      shift += 8
    }
    if (src ne keys) {
      System.arraycopy(src, 0, keys, 0, n)
      System.arraycopy(srcIdx, 0, idx, 0, n)
    }
  }

  /** In-place median-of-three quicksort of idx[lo..hi] under `cmp`,
    * insertion sort below 32. SQL sort is not stability-sensitive (ties
    * are unspecified), so quicksort's instability is fine.
    */
  private def qsortRange(idx: Array[Int], lo0: Int, hi0: Int, cmp: (Int, Int) => Int): Unit = {
    def swap(i: Int, j: Int): Unit = { val t = idx(i); idx(i) = idx(j); idx(j) = t }
    def insertion(lo: Int, hi: Int): Unit = {
      var i = lo + 1
      while (i <= hi) {
        val v = idx(i)
        var j = i - 1
        while (j >= lo && cmp(idx(j), v) > 0) { idx(j + 1) = idx(j); j -= 1 }
        idx(j + 1) = v
        i += 1
      }
    }
    def qsort(lo1: Int, hi1: Int): Unit = {
      var lo = lo1
      var hi = hi1
      while (hi - lo > 31) {
        val mid = lo + (hi - lo) / 2
        // median-of-three pivot to idx(mid)
        if (cmp(idx(lo), idx(mid)) > 0) swap(lo, mid)
        if (cmp(idx(lo), idx(hi)) > 0) swap(lo, hi)
        if (cmp(idx(mid), idx(hi)) > 0) swap(mid, hi)
        val pivot = idx(mid)
        var i = lo
        var j = hi
        while (i <= j) {
          while (cmp(idx(i), pivot) < 0) i += 1
          while (cmp(idx(j), pivot) > 0) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        // recurse on the smaller side, loop on the larger (O(log n) stack)
        if (j - lo < hi - i) { qsort(lo, j); lo = i }
        else { qsort(i, hi); hi = j }
      }
      if (hi > lo) insertion(lo, hi)
    }
    qsort(lo0, hi0)
  }

  /** Sort the index array by the key specs: LSD radix on the bit-mapped
    * first key, then comparison sort only inside first-key tie runs and
    * the null segment.
    */
  private[graft] def sortIndices(
      idx: Array[Int], n: Int, specs: Array[TopKKeySpec], keyBufs: Array[ColBuf]): Unit = {
    val s0 = specs(0)
    val first = keyBufs(0)
    // split null / non-null first keys (stable not required)
    val nonNull = new Array[Int](n)
    val nullIdx = new Array[Int](n)
    var nn = 0
    var nv = 0
    var i = 0
    while (i < n) {
      val r = idx(i)
      if (first.isNull(r)) { nullIdx(nv) = r; nv += 1 }
      else { nonNull(nn) = r; nn += 1 }
      i += 1
    }
    // radix-sort the non-null segment ascending on the mapped key
    val keys = new Array[Long](nn)
    i = 0
    while (i < nn) { keys(i) = first.radix(nonNull(i)); i += 1 }
    radixSortRange(keys, nonNull, nn)
    if (s0.desc) {
      // reverse values AND keys: tie runs stay contiguous for the
      // secondary pass
      var a = 0
      var b = nn - 1
      while (a < b) {
        val t = nonNull(a); nonNull(a) = nonNull(b); nonNull(b) = t
        val tk = keys(a); keys(a) = keys(b); keys(b) = tk
        a += 1; b -= 1
      }
    }
    // stitch: nulls first or last
    val nullStart = if (s0.nullsFirst) 0 else nn
    if (s0.nullsFirst) {
      System.arraycopy(nullIdx, 0, idx, 0, nv)
      System.arraycopy(nonNull, 0, idx, nv, nn)
    } else {
      System.arraycopy(nonNull, 0, idx, 0, nn)
      System.arraycopy(nullIdx, 0, idx, nn, nv)
    }
    if (specs.length > 1) {
      val cmpRest: (Int, Int) => Int = (a, b) => cmpKeysFrom(specs, keyBufs, 1, a, b)
      // null segment: first key is all-tie, sort by the rest
      if (nv > 1) qsortRange(idx, nullStart, nullStart + nv - 1, cmpRest)
      // non-null segment: comparison-sort each first-key tie run
      val base = if (s0.nullsFirst) nv else 0
      var runStart = 0
      i = 1
      while (i <= nn) {
        if (i == nn || keys(i) != keys(runStart)) {
          if (i - runStart > 1) {
            qsortRange(idx, base + runStart, base + i - 1, cmpRest)
          }
          runStart = i
        }
        i += 1
      }
    }
  }

  // ---------------------------------------------------------------------
  // Spill path: external sorted-run merge (DataFusion's spilling SortExec
  // role, Tungsten UnsafeExternalSorter's scheme re-expressed columnar).
  // Runs are written row-major in sorted order (null flag + 64 value
  // bits per column) through the node's compression codec, then k-way
  // merged through per-run cursors.
  // ---------------------------------------------------------------------

  /** The current row of one sorted run: null flags and value bits per
    * column ([[ColBuf.bits]]). */
  private final class RunCursor(nCols: Int) {
    val nulls = new Array[Boolean](nCols)
    val bits = new Array[Long](nCols)
  }

  private sealed trait SortedRun {
    def cur: RunCursor
    /** Load the next row into [[cur]]; false when exhausted. */
    def advance(): Boolean
    def close(): Unit
  }

  /** The final (unspilled) in-memory block as a merge participant. */
  private final class MemoryRun(bufs: Array[ColBuf], idx: Array[Int], n: Int)
      extends SortedRun {
    val cur = new RunCursor(bufs.length)
    private var pos = 0
    override def advance(): Boolean = {
      if (pos >= n) return false
      val r = idx(pos)
      pos += 1
      var c = 0
      while (c < bufs.length) {
        val nl = bufs(c).isNull(r)
        cur.nulls(c) = nl
        if (!nl) cur.bits(c) = bufs(c).bits(r)
        c += 1
      }
      true
    }
    override def close(): Unit = ()
  }

  /** One spilled run file: `rows` rows in sorted order. */
  final case class SpillFile(file: java.io.File, rows: Int)

  private def wrapIn(raw: java.io.InputStream): java.io.InputStream =
    if (org.apache.spark.SparkEnv.get != null) {
      org.apache.spark.io.CompressionCodec
        .createCodec(org.apache.spark.SparkEnv.get.conf).compressedInputStream(raw)
    } else raw

  /** A new run file and its (compressed when a SparkEnv is up) output
    * stream. */
  private def openRun(): (java.io.File, java.io.DataOutputStream) = {
    val env = org.apache.spark.SparkEnv.get
    val file =
      if (env != null) env.blockManager.diskBlockManager.createTempLocalBlock()._2
      else java.io.File.createTempFile("graft-sort-spill", ".run")
    val raw = new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 16)
    val out =
      if (env != null) org.apache.spark.io.CompressionCodec.createCodec(env.conf)
        .compressedOutputStream(raw)
      else raw
    (file, new java.io.DataOutputStream(out))
  }

  /** Write the sorted block (bufs gathered through idx) as one run. */
  def writeRun(
      bufs: Array[ColBuf], idx: Array[Int], n: Int): SpillFile = {
    val (file, out) = openRun()
    try {
      out.writeInt(n)
      var i = 0
      while (i < n) {
        val r = idx(i)
        var c = 0
        while (c < bufs.length) { bufs(c).writeSlot(r, out); c += 1 }
        i += 1
      }
    } finally out.close()
    SpillFile(file, n)
  }

  private final class DiskRun(spill: SpillFile, nCols: Int) extends SortedRun {
    val cur = new RunCursor(nCols)
    private val in = new java.io.DataInputStream(wrapIn(
      new java.io.BufferedInputStream(new java.io.FileInputStream(spill.file), 1 << 16)))
    private val total = in.readInt()
    private var read = 0
    require(total == spill.rows, s"spill run header $total != recorded ${spill.rows}")
    override def advance(): Boolean = {
      if (read >= total) return false
      read += 1
      var c = 0
      while (c < nCols) {
        val nl = in.readBoolean()
        cur.nulls(c) = nl
        if (!nl) cur.bits(c) = in.readLong()
        c += 1
      }
      true
    }
    private var closed = false
    override def close(): Unit = if (!closed) { closed = true; in.close() }
  }

  /** Binary min-heap of sorted runs keyed by their current cursor —
    * shared by the batch-emitting merge and the intermediate
    * merge-to-disk pass. Runs that are exhausted (or empty on entry)
    * are closed as they drain; [[closeAll]] closes the rest (wired to
    * the TaskCompletionListener so a partially-consumed merge — e.g. a
    * LIMIT above the sort — cannot leak file descriptors).
    */
  private final class RunHeap(
      runsIn: Seq[SortedRun], specs: Array[TopKKeySpec], dbl: Array[Boolean]) {
    private val heap = new Array[SortedRun](runsIn.size)
    var size = 0
    private def lt(x: SortedRun, y: SortedRun): Boolean =
      cmpCursors(specs, dbl, x.cur, y.cur) < 0
    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && lt(heap(i), heap((i - 1) / 2))) {
        val p = (i - 1) / 2
        val t = heap(i); heap(i) = heap(p); heap(p) = t
        i = p
      }
    }
    private def siftDown(): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < size && lt(heap(l), heap(m))) m = l
        if (r < size && lt(heap(r), heap(m))) m = r
        if (m == i) done = true
        else { val t = heap(i); heap(i) = heap(m); heap(m) = t; i = m }
      }
    }
    runsIn.foreach { run =>
      if (run.advance()) { heap(size) = run; size += 1; siftUp(size - 1) }
      else run.close()
    }
    def top: SortedRun = heap(0)
    /** Advance past the top's current (consumed) row. */
    def step(): Unit = {
      val t = heap(0)
      if (t.advance()) siftDown()
      else {
        t.close()
        size -= 1
        if (size > 0) { heap(0) = heap(size); heap(size) = null; siftDown() }
      }
    }
    def closeAll(): Unit = {
      var i = 0
      while (i < size) {
        try heap(i).close() catch { case _: java.io.IOException => () }
        heap(i) = null
        i += 1
      }
      size = 0
    }
  }

  /** Merge a group of spilled runs into ONE new spill file (same on-disk
    * format), deleting the inputs. Bounds the final merge's fan-in the
    * way UnsafeExternalSorter's multi-pass merge does: without it a
    * large partition under a small spill threshold opens every run's
    * stream simultaneously and can exhaust file descriptors.
    */
  private def mergeSpillGroup(
      group: Seq[SpillFile], specs: Array[TopKKeySpec], dbl: Array[Boolean]): SpillFile = {
    val total = java.lang.Math.toIntExact(group.map(_.rows.toLong).sum)
    val (file, out) = openRun()
    val h = new RunHeap(group.map(sp => new DiskRun(sp, dbl.length)), specs, dbl)
    try {
      out.writeInt(total)
      while (h.size > 0) {
        val cur = h.top.cur
        var c = 0
        while (c < dbl.length) {
          val nl = cur.nulls(c)
          out.writeBoolean(nl)
          if (!nl) out.writeLong(cur.bits(c))
          c += 1
        }
        h.step()
      }
    } finally {
      h.closeAll()
      out.close()
    }
    group.foreach(_.file.delete())
    SpillFile(file, total)
  }

  /** Key compare of two run cursors under the sort specs. */
  private def cmpCursors(
      specs: Array[TopKKeySpec], dbl: Array[Boolean], a: RunCursor, b: RunCursor): Int = {
    var k = 0
    while (k < specs.length) {
      val s = specs(k)
      val c = s.col
      val an = a.nulls(c)
      val bn = b.nulls(c)
      val r =
        if (an && bn) 0
        else if (an) { if (s.nullsFirst) -1 else 1 }
        else if (bn) { if (s.nullsFirst) 1 else -1 }
        else {
          val base =
            if (dbl(c)) SQLOrderingUtil.compareDoubles(
              java.lang.Double.longBitsToDouble(a.bits(c)),
              java.lang.Double.longBitsToDouble(b.bits(c)))
            else java.lang.Long.compare(a.bits(c), b.bits(c))
          if (s.desc) -base else base
        }
      if (r != 0) return r
      k += 1
    }
    0
  }

  /** K-way merge of sorted runs into output batches. Ties between runs
    * are broken arbitrarily (SQL sort is not stability-sensitive). */
  private def mergeRuns(
      runsIn: Seq[SortedRun], specs: Array[TopKKeySpec], dbl: Array[Boolean],
      colTypes: Array[DataType], onBatch: () => Unit): Iterator[ColumnarBatch] = {
    val h = new RunHeap(runsIn, specs, dbl)
    // a LIMIT above the sort can abandon this iterator mid-merge —
    // close whatever streams remain open at task end
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => h.closeAll()))
    val nCols = colTypes.length
    new Iterator[ColumnarBatch] {
      override def hasNext: Boolean = h.size > 0
      override def next(): ColumnarBatch = {
        val out = colTypes.map(newBuf)
        var m = 0
        while (m < batchRows && h.size > 0) {
          val cur = h.top.cur
          var c = 0
          while (c < nCols) { out(c).put(cur.nulls(c), cur.bits(c)); c += 1 }
          m += 1
          h.step()
        }
        onBatch()
        new ColumnarBatch(out.map(_.vector()), m)
      }
    }
  }
}
