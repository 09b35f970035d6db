// In org.apache.spark.sql.execution.graft for access to private[execution]
// surfaces (RowToColumnConverter) — same placement as the other graft
// columnar operators and the reference's org.apache.spark.sql.comet.
package org.apache.spark.sql.execution.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{RowToColumnConverter, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** One sort key of the columnar top-k probe: input column ordinal, type,
  * direction, null placement. Compiled by GraftColumnarRule from a
  * `SortOrder` whose child is a plain attribute of the columnar child.
  */
case class TopKKeySpec(col: Int, dt: DataType, desc: Boolean, nullsFirst: Boolean)

/** Columnar global top-k — the batch twin of [[org.apache.spark.sql.graft.GraftTopKExec]]
  * and Spark's TakeOrderedAndProjectExec (reference analogue: DataFusion's
  * SortExec with fetch, planner.rs TopK path; serde
  * spark/src/main/scala/org/apache/spark/sql/comet/serde/operator/CometSort.scala).
  *
  * Why a columnar kernel can win where the columnar inner join lost: the
  * row TakeOrderedAndProject above a columnar block forces a
  * ColumnarToRow of EVERY surviving row, then compares rows it mostly
  * throws away. Here the per-row work is a typed primitive read of the
  * FIRST sort key compared against the current k-th threshold — losers
  * (the overwhelming majority once the heap warms up) touch one vector
  * slot and nothing else; only heap-entering winners are materialized
  * (`batch.getRow(i).copy()`, O(k) live at a time). The merge input is
  * ≤ k rows per map partition, exactly like the row operator.
  */
case class GraftColumnarTopKExec(
    limit: Int,
    keys: Seq[TopKKeySpec],
    sortOrder: Seq[SortOrder],
    projectList: Seq[NamedExpression],
    child: SparkPlan,
    offset: Int = 0)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def supportsColumnar: Boolean = true
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = sortOrder

  override lazy val metrics = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numMergeRows" -> SQLMetrics.createMetric(sparkContext, "rows entering final merge"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  import GraftColumnarTopKExec._

  /** Local columnar top-k: bounded max-heap keyed by extracted sort-key
    * values; candidates compare against the heap head straight from the
    * vectors. Emits ≤ `limit` copied rows (child schema), unsorted.
    */
  private def localBatchTopK(
      specs: Array[TopKKeySpec], ops: Array[KeyOps], lim: Int,
      inM: org.apache.spark.sql.execution.metric.SQLMetric)(
      batches: Iterator[ColumnarBatch]): Iterator[InternalRow] = {
    val heap = new scala.collection.mutable.PriorityQueue[Entry]()(entryOrdering(specs, ops))
    batches.foreach { batch =>
      val n = batch.numRows()
      inM.add(n)
      val cols = specs.map(s => batch.column(s.col))
      var i = 0
      while (i < n) {
        val accept =
          if (heap.size < lim) true
          else cmpCandidate(specs, ops, cols, i, heap.head.keys) < 0
        if (accept) {
          val ks = new Array[AnyRef](specs.length)
          var j = 0
          while (j < specs.length) {
            ks(j) = if (cols(j).isNullAt(i)) null else ops(j).extract(cols(j), i)
            j += 1
          }
          heap.enqueue(new Entry(ks, batch.getRow(i).copy()))
          if (heap.size > lim) heap.dequeue()
        }
        i += 1
      }
    }
    heap.iterator.map(_.row)
  }

  /** Single-partition final merge: bounded heap again over the ≤ k·P
    * local winners, sorted output, projection applied.
    */
  private def mergeAndProject(
      mergeM: org.apache.spark.sql.execution.metric.SQLMetric,
      outM: org.apache.spark.sql.execution.metric.SQLMetric)(
      rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val ord = new LazilyGeneratedOrdering(sortOrder, child.output)
    val heap = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
    rows.foreach { r =>
      mergeM.add(1)
      if (heap.size < limit) heap.enqueue(r.copy())
      else if (ord.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r.copy()) }
    }
    val proj = UnsafeProjection.create(projectList, child.output)
    // OFFSET mirrors TakeOrderedAndProjectExec: the planner's `limit`
    // counts from row 0 (it is fetch+offset), so the heaps track the
    // full top-`limit` and the skip happens once, here at the sorted
    // single-partition emit.
    val sorted: Seq[InternalRow] = heap.dequeueAll.reverse.drop(offset)
    sorted.iterator.map { r => outM.add(1); proj(r) }
  }

  private def topKRows(): RDD[InternalRow] = {
    val specs = keys.toArray
    val ops = specs.map(s => keyOps(s.dt))
    val (inM, mergeM, outM) =
      (metrics("numInputRows"), metrics("numMergeRows"), metrics("numOutputRows"))
    val lim = limit
    child.executeColumnar()
      .mapPartitionsInternal(localBatchTopK(specs, ops, lim, inM))
      .coalesce(1)
      .mapPartitionsInternal(mergeAndProject(mergeM, outM))
  }

  /** The k result rows re-emitted as ColumnarBatches (≤ 4096 rows each):
    * keeping the node columnar means Spark inserts no transition below
    * it — the child's batches flow straight into the probe — and the
    * ColumnarToRow above touches only k rows.
    */
  override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val schema = StructType(output.map(a => StructField(a.name, a.dataType, a.nullable)))
    topKRows().mapPartitionsInternal { rows =>
      new Iterator[ColumnarBatch] {
        private val converter = new RowToColumnConverter(schema)
        override def hasNext: Boolean = rows.hasNext
        override def next(): ColumnarBatch = {
          val vectors = OnHeapColumnVector.allocateColumns(batchRows, schema)
          var n = 0
          while (n < batchRows && rows.hasNext) {
            converter.convert(rows.next(), vectors.toArray[org.apache.spark.sql.execution.vectorized.WritableColumnVector])
            n += 1
          }
          new ColumnarBatch(vectors.toArray[ColumnVector], n)
        }
      }
    }
  }

  /** Row path: same two bounded heaps over the child's row fallback —
    * present for completeness; the planner routes through columnar.
    */
  override protected def doExecute(): RDD[InternalRow] = {
    val ord = new LazilyGeneratedOrdering(sortOrder, child.output)
    val (inM, mergeM, outM) =
      (metrics("numInputRows"), metrics("numMergeRows"), metrics("numOutputRows"))
    val lim = limit
    child.execute()
      .mapPartitionsInternal { iter =>
        val heap = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
        iter.foreach { r =>
          inM.add(1)
          if (heap.size < lim) heap.enqueue(r.copy())
          else if (ord.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r.copy()) }
        }
        heap.iterator
      }
      .coalesce(1)
      .mapPartitionsInternal(mergeAndProject(mergeM, outM))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftColumnarTopKExec =
    copy(child = newChild)
}

object GraftColumnarTopKExec {
  /** Output batch chunk size for the (≤ k-row) re-columnarization. */
  val batchRows = 4096

  private[graft] final class Entry(val keys: Array[AnyRef], val row: InternalRow)

  /** Typed vector readers + boxed comparators, one per supported sort-key
    * type. All comparisons are Spark-semantics: SQLOrderingUtil for
    * float/double (NaN largest, NaN == NaN, -0.0 == 0.0), binary
    * UTF8String order for default-collation strings.
    */
  sealed trait KeyOps extends Serializable {
    def extract(v: ColumnVector, i: Int): AnyRef
    def cmpVec(v: ColumnVector, i: Int, b: AnyRef): Int
    def cmp(a: AnyRef, b: AnyRef): Int
  }
  private object LongOps extends KeyOps {
    def extract(v: ColumnVector, i: Int): AnyRef = java.lang.Long.valueOf(v.getLong(i))
    def cmpVec(v: ColumnVector, i: Int, b: AnyRef): Int =
      java.lang.Long.compare(v.getLong(i), b.asInstanceOf[java.lang.Long].longValue())
    def cmp(a: AnyRef, b: AnyRef): Int =
      java.lang.Long.compare(a.asInstanceOf[java.lang.Long].longValue(),
        b.asInstanceOf[java.lang.Long].longValue())
  }
  private object IntOps extends KeyOps {
    def extract(v: ColumnVector, i: Int): AnyRef = java.lang.Integer.valueOf(v.getInt(i))
    def cmpVec(v: ColumnVector, i: Int, b: AnyRef): Int =
      java.lang.Integer.compare(v.getInt(i), b.asInstanceOf[java.lang.Integer].intValue())
    def cmp(a: AnyRef, b: AnyRef): Int =
      java.lang.Integer.compare(a.asInstanceOf[java.lang.Integer].intValue(),
        b.asInstanceOf[java.lang.Integer].intValue())
  }
  private object ShortOps extends KeyOps {
    def extract(v: ColumnVector, i: Int): AnyRef = java.lang.Short.valueOf(v.getShort(i))
    def cmpVec(v: ColumnVector, i: Int, b: AnyRef): Int =
      java.lang.Short.compare(v.getShort(i), b.asInstanceOf[java.lang.Short].shortValue())
    def cmp(a: AnyRef, b: AnyRef): Int =
      java.lang.Short.compare(a.asInstanceOf[java.lang.Short].shortValue(),
        b.asInstanceOf[java.lang.Short].shortValue())
  }
  private object ByteOps extends KeyOps {
    def extract(v: ColumnVector, i: Int): AnyRef = java.lang.Byte.valueOf(v.getByte(i))
    def cmpVec(v: ColumnVector, i: Int, b: AnyRef): Int =
      java.lang.Byte.compare(v.getByte(i), b.asInstanceOf[java.lang.Byte].byteValue())
    def cmp(a: AnyRef, b: AnyRef): Int =
      java.lang.Byte.compare(a.asInstanceOf[java.lang.Byte].byteValue(),
        b.asInstanceOf[java.lang.Byte].byteValue())
  }
  private object BoolOps extends KeyOps {
    def extract(v: ColumnVector, i: Int): AnyRef = java.lang.Boolean.valueOf(v.getBoolean(i))
    def cmpVec(v: ColumnVector, i: Int, b: AnyRef): Int =
      java.lang.Boolean.compare(v.getBoolean(i), b.asInstanceOf[java.lang.Boolean].booleanValue())
    def cmp(a: AnyRef, b: AnyRef): Int =
      java.lang.Boolean.compare(a.asInstanceOf[java.lang.Boolean].booleanValue(),
        b.asInstanceOf[java.lang.Boolean].booleanValue())
  }
  private object DoubleOps extends KeyOps {
    def extract(v: ColumnVector, i: Int): AnyRef = java.lang.Double.valueOf(v.getDouble(i))
    def cmpVec(v: ColumnVector, i: Int, b: AnyRef): Int =
      SQLOrderingUtil.compareDoubles(v.getDouble(i), b.asInstanceOf[java.lang.Double].doubleValue())
    def cmp(a: AnyRef, b: AnyRef): Int =
      SQLOrderingUtil.compareDoubles(a.asInstanceOf[java.lang.Double].doubleValue(),
        b.asInstanceOf[java.lang.Double].doubleValue())
  }
  private object FloatOps extends KeyOps {
    def extract(v: ColumnVector, i: Int): AnyRef = java.lang.Float.valueOf(v.getFloat(i))
    def cmpVec(v: ColumnVector, i: Int, b: AnyRef): Int =
      SQLOrderingUtil.compareFloats(v.getFloat(i), b.asInstanceOf[java.lang.Float].floatValue())
    def cmp(a: AnyRef, b: AnyRef): Int =
      SQLOrderingUtil.compareFloats(a.asInstanceOf[java.lang.Float].floatValue(),
        b.asInstanceOf[java.lang.Float].floatValue())
  }
  private object StringOps extends KeyOps {
    // extract clones: the vector's UTF8String views alias batch memory.
    def extract(v: ColumnVector, i: Int): AnyRef = v.getUTF8String(i).clone()
    def cmpVec(v: ColumnVector, i: Int, b: AnyRef): Int =
      v.getUTF8String(i).compareTo(b.asInstanceOf[UTF8String])
    def cmp(a: AnyRef, b: AnyRef): Int =
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
  }
  /** Decimal64 key: all values of a column share one (p, s), so the
    * unscaled long compares in numeric order — boxed as Long. */
  private final class DecimalOps(p: Int, s: Int) extends KeyOps {
    def extract(v: ColumnVector, i: Int): AnyRef =
      java.lang.Long.valueOf(v.getDecimal(i, p, s).toUnscaledLong)
    def cmpVec(v: ColumnVector, i: Int, b: AnyRef): Int =
      java.lang.Long.compare(v.getDecimal(i, p, s).toUnscaledLong,
        b.asInstanceOf[java.lang.Long].longValue())
    def cmp(a: AnyRef, b: AnyRef): Int =
      java.lang.Long.compare(a.asInstanceOf[java.lang.Long].longValue(),
        b.asInstanceOf[java.lang.Long].longValue())
  }

  def supportedKeyType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         DateType | TimestampType | TimestampNTZType |
         DoubleType | FloatType => true
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS => true
    case StringType => dt == StringType // default collation only
    case _ => false
  }

  private[graft] def keyOps(dt: DataType): KeyOps = dt match {
    case LongType | TimestampType | TimestampNTZType => LongOps
    case IntegerType | DateType => IntOps
    case ShortType => ShortOps
    case ByteType => ByteOps
    case BooleanType => BoolOps
    case DoubleType => DoubleOps
    case FloatType => FloatOps
    case StringType => StringOps
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      new DecimalOps(d.precision, d.scale)
    case other => throw new IllegalStateException(s"unsupported top-k key type $other")
  }

  /** null/direction-aware compare of one key: vector slot vs boxed. */
  private def cmpSlot(spec: TopKKeySpec, aNull: Boolean, bNull: Boolean, cmp: => Int): Int =
    if (aNull && bNull) 0
    else if (aNull) { if (spec.nullsFirst) -1 else 1 }
    else if (bNull) { if (spec.nullsFirst) 1 else -1 }
    else { val c = cmp; if (spec.desc) -c else c }

  private[graft] def cmpBoxed(spec: TopKKeySpec, ops: KeyOps, a: AnyRef, b: AnyRef): Int =
    cmpSlot(spec, a == null, b == null, ops.cmp(a, b))

  /** Entries ordered worst-first: the max-heap order of the bounded
    * top-k heaps under the requested sort order. */
  private[graft] def entryOrdering(specs: Array[TopKKeySpec], ops: Array[KeyOps]): Ordering[Entry] =
    new Ordering[Entry] {
      override def compare(a: Entry, b: Entry): Int = {
        var i = 0
        while (i < specs.length) {
          val c = cmpBoxed(specs(i), ops(i), a.keys(i), b.keys(i))
          if (c != 0) return c
          i += 1
        }
        0
      }
    }

  /** Candidate (vector slots at row i) vs a heap entry's boxed keys;
    * negative = candidate orders strictly before (wins).
    */
  private[graft] def cmpCandidate(
      specs: Array[TopKKeySpec], ops: Array[KeyOps],
      cols: Array[ColumnVector], i: Int, entry: Array[AnyRef]): Int = {
    var j = 0
    while (j < specs.length) {
      val c = cmpSlot(specs(j), cols(j).isNullAt(i), entry(j) == null,
        ops(j).cmpVec(cols(j), i, entry(j)))
      if (c != 0) return c
      j += 1
    }
    0
  }
}
