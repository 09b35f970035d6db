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
import org.apache.spark.sql.graft.{ByteSliceStringVector, DoubleBuildVector, LongBuildVector, SelectedColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Columnar per-partition sort (reference analogue: DataFusion SortExec,
  * native/core/src/execution/planner.rs:1211-1245; serde
  * spark/src/main/scala/org/apache/spark/sql/comet/serde/operator/CometSort.scala).
  *
  * OPT-IN (spark.graft.columnar.sort.enabled, default off). The sort
  * itself is a HYBRID: LSD radix on the bit-mapped first key for
  * numeric keys (the algorithm class Tungsten's prefix sort wins with)
  * + comparison sort only inside first-key tie runs; strings take the
  * pure comparison path over a CONCATENATED byte buffer (one shared
  * byte[] + offset/length lanes per string column — a poor-JVM's arena:
  * no per-row UTF8String clone at buffering, Arrays.compareUnsigned
  * intrinsic comparisons, zero-copy fromBytes views at emission).
  * Refreshed sf0.1 A/B medians (3 session runs) after that rework:
  * narrow numeric rows WIN (sort-narrow-3col 0.86-0.94x), string key
  * 1.15-1.21x (was 2.6x with cloned strings), 2key-mixed 1.01-1.06x
  * (was 1.46x), wide 16-col rows still lose (sort-1key-long 1.38-1.40x)
  * — the residual cost is buffering every output column of a wide row,
  * which the reference escapes with native arena allocation + SIMD
  * (DataFusion SortExec). Narrow all-numeric outputs (<= 4 columns)
  * swap by DEFAULT (winning 0.55-0.87x A/B — sort.narrow.enabled, q164
  * pins the plan); wide or string outputs remain opt-in via
  * sort.enabled.
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
      val kinds = colTypes.map(kindOf)
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
            if (g.length == 1) g.head else mergeSpillGroup(g, specs, kinds)
          }.toSeq
          spills.clear()
          spills ++= merged
        }
        val runs = scala.collection.mutable.ArrayBuffer.empty[SortedRun]
        if (n > 0) {
          res.foreach(_.reserve(4L * n))
          runs += new MemoryRun(bufs, kinds, sortCurrent(), n)
        }
        spills.foreach(sp => runs += new DiskRun(sp, kinds))
        mergeRuns(runs.toSeq, specs, kinds, colTypes, () => batchM.add(1))
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

  /** The narrow default-ON shape: numeric/temporal only — string
    * columns push the A/B above parity (buffer + compare cost). */
  def numericColType(dt: DataType): Boolean =
    dt != StringType && supportedColType(dt)

  def supportedColType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         DateType | TimestampType | TimestampNTZType |
         DoubleType | FloatType => true
    // Decimal64: a column's values share one (p, s), so unscaled-long
    // order == numeric order — the long lane (and its radix path)
    // carries money columns unchanged. A/B sort-narrow-dec (sf0.1,
    // 3 runs): 0.55-0.58x — the strongest narrow win, because the row
    // path pays per-comparison Decimal object compares where the radix
    // lane pays none
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS => true
    case StringType => dt == StringType // default collation only
    case _ => false
  }

  /** Growable column buffer: copies vector slots in (the scan reuses its
    * vectors batch-to-batch, so references cannot be retained), compares
    * by buffered index, re-emits as a ColumnVector for the gather.
    */
  sealed trait ColBuf {
    def append(v: ColumnVector, rows: Int): Unit
    def isNull(i: Int): Boolean
    def cmpRaw(a: Int, b: Int): Int
    def vector(): ColumnVector
    /** Approximate bytes held: primitive lanes exactly, string content
      * at clone size + per-object overhead — read after each append for
      * the coarse task-memory accounting (GraftMemoryReservation). */
    def trackedBytes: Long
    /** Serialize slot `i` (null flag + value) to a spill run. */
    def writeSlot(i: Int, out: java.io.DataOutput): Unit
    /** Drop the buffered content AND the backing arrays (back to the
      * initial capacity) — called after a run is spilled so the memory
      * is actually returned, not just logically cleared. */
    def reset(): Unit
  }

  private final class LongBuf(dt: DataType) extends ColBuf {
    private var values = new Array[Long](1 << 12)
    private var nulls = new Array[Boolean](1 << 12)
    private var n = 0
    override def trackedBytes: Long = values.length * 9L
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
      if (n + rows > values.length) {
        val cap = math.max(values.length * 2, n + rows)
        values = java.util.Arrays.copyOf(values, cap)
        nulls = java.util.Arrays.copyOf(nulls, cap)
      }
      var i = 0
      while (i < rows) {
        if (v.isNullAt(i)) nulls(n) = true else values(n) = get(v, i)
        n += 1; i += 1
      }
    }
    override def isNull(i: Int): Boolean = nulls(i)
    override def cmpRaw(a: Int, b: Int): Int = java.lang.Long.compare(values(a), values(b))
    override def vector(): ColumnVector = new LongBuildVector(dt, values, nulls, n)
    def raw(i: Int): Long = values(i)
    override def writeSlot(i: Int, out: java.io.DataOutput): Unit = {
      out.writeBoolean(nulls(i))
      if (!nulls(i)) out.writeLong(values(i))
    }
    override def reset(): Unit = {
      values = new Array[Long](1 << 12)
      nulls = new Array[Boolean](1 << 12)
      n = 0
    }
  }

  private final class DoubleBuf(dt: DataType) extends ColBuf {
    private var values = new Array[Double](1 << 12)
    private var nulls = new Array[Boolean](1 << 12)
    private var n = 0
    private val isFloat = dt == FloatType
    override def trackedBytes: Long = values.length * 9L
    override def append(v: ColumnVector, rows: Int): Unit = {
      if (n + rows > values.length) {
        val cap = math.max(values.length * 2, n + rows)
        values = java.util.Arrays.copyOf(values, cap)
        nulls = java.util.Arrays.copyOf(nulls, cap)
      }
      var i = 0
      while (i < rows) {
        if (v.isNullAt(i)) nulls(n) = true
        else values(n) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        n += 1; i += 1
      }
    }
    override def isNull(i: Int): Boolean = nulls(i)
    // compareDoubles = Spark sort semantics: NaN largest, NaN==NaN, -0.0==0.0.
    // Safe for the float lane too: the float→double widening is exact and
    // order-preserving, including NaN handling.
    override def cmpRaw(a: Int, b: Int): Int = SQLOrderingUtil.compareDoubles(values(a), values(b))
    override def vector(): ColumnVector = new DoubleBuildVector(dt, values, nulls, n)
    def raw(i: Int): Double = values(i)
    override def writeSlot(i: Int, out: java.io.DataOutput): Unit = {
      out.writeBoolean(nulls(i))
      if (!nulls(i)) out.writeDouble(values(i))
    }
    override def reset(): Unit = {
      values = new Array[Double](1 << 12)
      nulls = new Array[Boolean](1 << 12)
      n = 0
    }
  }

  /** String column buffer over ONE concatenated byte array + offset/
    * length lanes — not one cloned UTF8String object per row. Copying in
    * is a single bulk writeToMemory per cell (no per-row object + byte[]
    * allocation), comparisons run through the
    * java.util.Arrays.compareUnsigned(byte[],...) intrinsic (UTF8_BINARY
    * order == unsigned byte order; the planning rule only swaps
    * default-collation strings), and emission wraps zero-copy
    * UTF8String.fromBytes views over the shared buffer.
    */
  private final class StringBuf extends ColBuf {
    private var bytes = new Array[Byte](1 << 16)
    private var used = 0
    private var offs = new Array[Int](1 << 12)
    private var lens = new Array[Int](1 << 12)
    private var nulls = new Array[Boolean](1 << 12)
    private var n = 0
    override def trackedBytes: Long = bytes.length.toLong + offs.length * 9L
    override def append(v: ColumnVector, rows: Int): Unit = {
      if (n + rows > offs.length) {
        val cap = math.max(offs.length * 2, n + rows)
        offs = java.util.Arrays.copyOf(offs, cap)
        lens = java.util.Arrays.copyOf(lens, cap)
        nulls = java.util.Arrays.copyOf(nulls, cap)
      }
      var i = 0
      while (i < rows) {
        if (v.isNullAt(i)) nulls(n) = true
        else {
          val s = v.getUTF8String(i)
          val len = s.numBytes()
          if (used.toLong + len > bytes.length) {
            // partition content is scan-block-bounded (planning gate),
            // so the 2 GiB byte[] ceiling is never the binding limit
            val cap = math.min(math.max(bytes.length * 2L, used.toLong + len),
              Int.MaxValue.toLong - 16).toInt
            bytes = java.util.Arrays.copyOf(bytes, cap)
          }
          s.writeToMemory(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + used)
          offs(n) = used
          lens(n) = len
          used += len
        }
        n += 1; i += 1
      }
    }
    override def isNull(i: Int): Boolean = nulls(i)
    override def cmpRaw(a: Int, b: Int): Int =
      java.util.Arrays.compareUnsigned(
        bytes, offs(a), offs(a) + lens(a),
        bytes, offs(b), offs(b) + lens(b))
    override def vector(): ColumnVector = new ByteSliceStringVector(bytes, offs, lens, nulls, n)
    override def writeSlot(i: Int, out: java.io.DataOutput): Unit = {
      out.writeBoolean(nulls(i))
      if (!nulls(i)) {
        out.writeInt(lens(i))
        out.write(bytes, offs(i), lens(i))
      }
    }
    override def reset(): Unit = {
      bytes = new Array[Byte](1 << 16)
      used = 0
      offs = new Array[Int](1 << 12)
      lens = new Array[Int](1 << 12)
      nulls = new Array[Boolean](1 << 12)
      n = 0
    }
    /** Copy of slot `i`'s content — merge-path cursor staging only. */
    def bytesAt(i: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(bytes, offs(i), offs(i) + lens(i))
  }

  def newBuf(dt: DataType): ColBuf = dt match {
    case DoubleType | FloatType => new DoubleBuf(dt)
    case StringType => new StringBuf
    case _ => new LongBuf(dt)
  }

  /** Full key compare of buffered rows a vs b: direction and null
    * placement per spec, tie falls to the next key. */
  private def cmpKeys(specs: Array[TopKKeySpec], keyBufs: Array[ColBuf], a: Int, b: Int): Int = {
    var k = 0
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

  /** Compare on the key suffix specs(from..): the radix path resolved
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

  /** Map a first-key slot to an unsigned-radix-sortable long preserving
    * Spark's sort semantics. Longs: flip the sign bit. Doubles: Spark
    * equality canonicalization FIRST (-0.0 → 0.0 so the pair forms ONE
    * tie-run for secondary keys; any NaN → the canonical NaN, which
    * maps above +Inf = NaN-largest), then the IEEE total-order bit
    * trick (negative → flip all bits, positive → flip sign bit).
    */
  private trait RadixKey { def map(buf: ColBuf, i: Int): Long }
  private object LongRadix extends RadixKey {
    def map(buf: ColBuf, i: Int): Long =
      buf.asInstanceOf[LongBuf].raw(i) ^ java.lang.Long.MIN_VALUE
  }
  private object DoubleRadix extends RadixKey {
    def map(buf: ColBuf, i: Int): Long = {
      var d = buf.asInstanceOf[DoubleBuf].raw(i)
      if (d == 0.0) d = 0.0 // collapses -0.0
      else if (java.lang.Double.isNaN(d)) d = java.lang.Double.NaN
      val bits = java.lang.Double.doubleToRawLongBits(d)
      if (bits < 0) ~bits else bits ^ java.lang.Long.MIN_VALUE
    }
  }

  private def radixKeyFor(buf: ColBuf): Option[RadixKey] = buf match {
    case _: LongBuf => Some(LongRadix)
    case _: DoubleBuf => Some(DoubleRadix)
    case _ => None
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

  /** Sort the index array by the key specs. Numeric first keys take the
    * HYBRID path — LSD radix on the bit-mapped first key (the algorithm
    * class Tungsten's prefix sort wins with), then comparison sort only
    * inside first-key tie runs and the null segment; everything else
    * (string first key) takes the pure comparison path.
    */
  private[graft] def sortIndices(
      idx: Array[Int], n: Int, specs: Array[TopKKeySpec], keyBufs: Array[ColBuf]): Unit = {
    val first = keyBufs(0)
    radixKeyFor(first) match {
      case Some(rk) => hybridSort(idx, n, specs, keyBufs, rk)
      case None =>
        qsortRange(idx, 0, n - 1, (a, b) => cmpKeys(specs, keyBufs, a, b))
    }
  }

  private def hybridSort(
      idx: Array[Int], n: Int, specs: Array[TopKKeySpec],
      keyBufs: Array[ColBuf], rk: RadixKey): Unit = {
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
    while (i < nn) { keys(i) = rk.map(first, nonNull(i)); i += 1 }
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
  // Runs are written row-major in sorted order (null flag + fixed value,
  // strings length-prefixed) through the node's compression codec, then
  // k-way merged through per-run cursors.
  // ---------------------------------------------------------------------

  /** Column storage kind: 0 = long family, 1 = double family, 2 = string
    * — mirrors [[newBuf]]. */
  def kindOf(dt: DataType): Int = dt match {
    case DoubleType | FloatType => 1
    case StringType => 2
    case _ => 0
  }

  /** The current row of one sorted run, staged column-wise. */
  private final class RunCursor(nCols: Int) {
    val nulls = new Array[Boolean](nCols)
    val longs = new Array[Long](nCols)
    val dbls = new Array[Double](nCols)
    val strs = new Array[Array[Byte]](nCols)
  }

  private sealed trait SortedRun {
    def cur: RunCursor
    /** Load the next row into [[cur]]; false when exhausted. */
    def advance(): Boolean
    def close(): Unit
  }

  /** The final (unspilled) in-memory block as a merge participant. */
  private final class MemoryRun(
      bufs: Array[ColBuf], kinds: Array[Int], idx: Array[Int], n: Int)
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
        if (!nl) kinds(c) match {
          case 0 => cur.longs(c) = bufs(c).asInstanceOf[LongBuf].raw(r)
          case 1 => cur.dbls(c) = bufs(c).asInstanceOf[DoubleBuf].raw(r)
          case _ => cur.strs(c) = bufs(c).asInstanceOf[StringBuf].bytesAt(r)
        }
        c += 1
      }
      true
    }
    override def close(): Unit = ()
  }

  /** One spilled run file: `rows` rows in sorted order. */
  final case class SpillFile(file: java.io.File, rows: Int)

  private def wrapOut(raw: java.io.OutputStream): java.io.OutputStream =
    if (org.apache.spark.SparkEnv.get != null) {
      org.apache.spark.io.CompressionCodec
        .createCodec(org.apache.spark.SparkEnv.get.conf).compressedOutputStream(raw)
    } else raw

  private def wrapIn(raw: java.io.InputStream): java.io.InputStream =
    if (org.apache.spark.SparkEnv.get != null) {
      org.apache.spark.io.CompressionCodec
        .createCodec(org.apache.spark.SparkEnv.get.conf).compressedInputStream(raw)
    } else raw

  /** Write the sorted block (bufs gathered through idx) as one run. */
  def writeRun(
      bufs: Array[ColBuf], idx: Array[Int], n: Int): SpillFile = {
    val file =
      if (org.apache.spark.SparkEnv.get != null) {
        org.apache.spark.SparkEnv.get.blockManager.diskBlockManager.createTempLocalBlock()._2
      } else java.io.File.createTempFile("graft-sort-spill", ".run")
    val out = new java.io.DataOutputStream(wrapOut(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 16)))
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

  private final class DiskRun(spill: SpillFile, kinds: Array[Int]) extends SortedRun {
    val cur = new RunCursor(kinds.length)
    private val in = new java.io.DataInputStream(wrapIn(
      new java.io.BufferedInputStream(new java.io.FileInputStream(spill.file), 1 << 16)))
    private val total = in.readInt()
    private var read = 0
    require(total == spill.rows, s"spill run header $total != recorded ${spill.rows}")
    override def advance(): Boolean = {
      if (read >= total) return false
      read += 1
      var c = 0
      while (c < kinds.length) {
        val nl = in.readBoolean()
        cur.nulls(c) = nl
        if (!nl) kinds(c) match {
          case 0 => cur.longs(c) = in.readLong()
          case 1 => cur.dbls(c) = in.readDouble()
          case _ =>
            val len = in.readInt()
            val b = new Array[Byte](len)
            in.readFully(b)
            cur.strs(c) = b
        }
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
      runsIn: Seq[SortedRun], specs: Array[TopKKeySpec], kinds: Array[Int]) {
    private val heap = new Array[SortedRun](runsIn.size)
    var size = 0
    private def lt(x: SortedRun, y: SortedRun): Boolean =
      cmpCursors(specs, kinds, x.cur, y.cur) < 0
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
      group: Seq[SpillFile], specs: Array[TopKKeySpec], kinds: Array[Int]): SpillFile = {
    val total = java.lang.Math.toIntExact(group.map(_.rows.toLong).sum)
    val file =
      if (org.apache.spark.SparkEnv.get != null) {
        org.apache.spark.SparkEnv.get.blockManager.diskBlockManager.createTempLocalBlock()._2
      } else java.io.File.createTempFile("graft-sort-spill", ".run")
    val out = new java.io.DataOutputStream(wrapOut(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 16)))
    val h = new RunHeap(group.map(sp => new DiskRun(sp, kinds)), specs, kinds)
    try {
      out.writeInt(total)
      while (h.size > 0) {
        val cur = h.top.cur
        var c = 0
        while (c < kinds.length) {
          val nl = cur.nulls(c)
          out.writeBoolean(nl)
          if (!nl) kinds(c) match {
            case 0 => out.writeLong(cur.longs(c))
            case 1 => out.writeDouble(cur.dbls(c))
            case _ =>
              out.writeInt(cur.strs(c).length)
              out.write(cur.strs(c))
          }
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
      specs: Array[TopKKeySpec], kinds: Array[Int], a: RunCursor, b: RunCursor): Int = {
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
          val base = kinds(c) match {
            case 0 => java.lang.Long.compare(a.longs(c), b.longs(c))
            case 1 => SQLOrderingUtil.compareDoubles(a.dbls(c), b.dbls(c))
            case _ => java.util.Arrays.compareUnsigned(a.strs(c), b.strs(c))
          }
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
      runsIn: Seq[SortedRun], specs: Array[TopKKeySpec], kinds: Array[Int],
      colTypes: Array[DataType], onBatch: () => Unit): Iterator[ColumnarBatch] = {
    val h = new RunHeap(runsIn, specs, kinds)
    // a LIMIT above the sort can abandon this iterator mid-merge —
    // close whatever streams remain open at task end
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => h.closeAll()))
    val nCols = colTypes.length
    new Iterator[ColumnarBatch] {
      override def hasNext: Boolean = h.size > 0
      override def next(): ColumnarBatch = {
        val cap = batchRows
        val nulls = Array.ofDim[Boolean](nCols, cap)
        val longs = kinds.map(k => if (k == 0) new Array[Long](cap) else null)
        val dbls = kinds.map(k => if (k == 1) new Array[Double](cap) else null)
        // string lanes: one concatenated buffer + offset/length per column
        var strBytes = kinds.map(k => if (k == 2) new Array[Byte](1 << 12) else null)
        val strUsed = new Array[Int](nCols)
        val strOffs = kinds.map(k => if (k == 2) new Array[Int](cap) else null)
        val strLens = kinds.map(k => if (k == 2) new Array[Int](cap) else null)
        var m = 0
        while (m < cap && h.size > 0) {
          val cur = h.top.cur
          var c = 0
          while (c < nCols) {
            val nl = cur.nulls(c)
            nulls(c)(m) = nl
            if (!nl) kinds(c) match {
              case 0 => longs(c)(m) = cur.longs(c)
              case 1 => dbls(c)(m) = cur.dbls(c)
              case _ =>
                val b = cur.strs(c)
                if (strUsed(c) + b.length > strBytes(c).length) {
                  strBytes(c) = java.util.Arrays.copyOf(strBytes(c),
                    math.max(strBytes(c).length * 2, strUsed(c) + b.length))
                }
                System.arraycopy(b, 0, strBytes(c), strUsed(c), b.length)
                strOffs(c)(m) = strUsed(c)
                strLens(c)(m) = b.length
                strUsed(c) += b.length
            }
            c += 1
          }
          m += 1
          h.step()
        }
        val cols = new Array[ColumnVector](nCols)
        var c = 0
        while (c < nCols) {
          cols(c) = kinds(c) match {
            case 0 => new LongBuildVector(colTypes(c), longs(c), nulls(c), m)
            case 1 => new DoubleBuildVector(colTypes(c), dbls(c), nulls(c), m)
            case _ => new ByteSliceStringVector(strBytes(c), strOffs(c), strLens(c), nulls(c), m)
          }
          c += 1
        }
        onBatch()
        new ColumnarBatch(cols, m)
      }
    }
  }
}
