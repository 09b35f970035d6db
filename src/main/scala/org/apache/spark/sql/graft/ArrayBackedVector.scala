package org.apache.spark.sql.graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** Output vector over plain JVM arrays: rows `[0, n)` of `nulls` (and of
  * the subclass's value arrays) are live. The arrays may be longer than
  * `n` — producers reuse them across batches — so the null counts never
  * look past `n`. Every getter throws unless a subclass serves it; each
  * subclass overrides only the getters its `dt` makes consumers call.
  */
abstract class ArrayBackedVector(dt: DataType, nulls: Array[Boolean], n: Int)
    extends ColumnVector(dt) {
  override def close(): Unit = ()
  override def closeIfFreeable(): Unit = ()
  override def hasNull: Boolean = {
    var i = 0
    while (i < n) { if (nulls(i)) return true; i += 1 }
    false
  }
  override def numNulls: Int = {
    var c = 0; var i = 0
    while (i < n) { if (nulls(i)) c += 1; i += 1 }
    c
  }
  override def isNullAt(rowId: Int): Boolean = nulls(rowId)

  private def unsupported(getter: String): Nothing =
    throw new UnsupportedOperationException(s"${getClass.getSimpleName} does not serve $getter")
  override def getBoolean(rowId: Int): Boolean = unsupported("getBoolean")
  override def getByte(rowId: Int): Byte = unsupported("getByte")
  override def getShort(rowId: Int): Short = unsupported("getShort")
  override def getInt(rowId: Int): Int = unsupported("getInt")
  override def getLong(rowId: Int): Long = unsupported("getLong")
  override def getFloat(rowId: Int): Float = unsupported("getFloat")
  override def getDouble(rowId: Int): Double = unsupported("getDouble")
  override def getArray(rowId: Int): ColumnarArray = unsupported("getArray")
  override def getMap(rowId: Int): ColumnarMap = unsupported("getMap")
  override def getDecimal(rowId: Int, p: Int, s: Int): Decimal = unsupported("getDecimal")
  override def getUTF8String(rowId: Int): UTF8String = unsupported("getUTF8String")
  override def getBinary(rowId: Int): Array[Byte] = unsupported("getBinary")
  override def getChild(ordinal: Int): ColumnVector = unsupported("getChild")
}

/** Long-backed vector: one class serves the whole long family (the
  * declared dataType picks which getter consumers call; all read the
  * same long slot). Decimal64 rides the lane as its unscaled value
  * (the projected decimal kernels, the columnar sort's money columns);
  * p > 18 never reaches here. DateType reads back through getInt.
  */
final class LongBuildVector(dt: DataType, values: Array[Long], nulls: Array[Boolean], n: Int)
    extends ArrayBackedVector(dt, nulls, n) {
  override def getBoolean(rowId: Int): Boolean = values(rowId) != 0L
  override def getByte(rowId: Int): Byte = values(rowId).toByte
  override def getShort(rowId: Int): Short = values(rowId).toShort
  override def getInt(rowId: Int): Int = values(rowId).toInt
  override def getLong(rowId: Int): Long = values(rowId)
  override def getDecimal(rowId: Int, p: Int, s: Int): Decimal =
    Decimal.createUnsafe(values(rowId), p, s)
}

/** Double-backed vector (double/float): the projected double kernels'
  * output and the build/sort/window double lanes. */
final class DoubleBuildVector(dt: DataType, values: Array[Double], nulls: Array[Boolean], n: Int)
    extends ArrayBackedVector(dt, nulls, n) {
  override def getDouble(rowId: Int): Double = values(rowId)
  override def getFloat(rowId: Int): Float = values(rowId).toFloat
}

/** Long-lane projection output (LongType / the micros-backed timestamp
  * types read through getLong; IntegerType conditional-flag kernels read
  * back through getInt — the lane computes in long, values are in-range
  * by the static type). Kept apart from [[LongBuildVector]] because its
  * getInt fails on an out-of-range value instead of truncating.
  */
final class LongArrayVector(values: Array[Long], nulls: Array[Boolean], n: Int, dt: DataType)
    extends ArrayBackedVector(dt, nulls, n) {
  override def getLong(rowId: Int): Long = values(rowId)
  override def getInt(rowId: Int): Int = {
    // getInt is only reached for int-family/date output types whose lane
    // values are in-range by the STATIC type today; if arithmetic is
    // ever added to the long lane an int-typed expression could overflow
    // — fail loudly instead of wrapping in non-row-path-equivalent ways.
    val v = values(rowId)
    if (v < Int.MinValue || v > Int.MaxValue)
      throw new ArithmeticException(s"long-lane value $v out of int range (dt=$dataType)")
    v.toInt
  }
}

/** Materialized int vector — output of [[VecStrExpr.LengthI]] (Spark's
  * Length returns IntegerType). */
final class IntArrayVector(values: Array[Int], nulls: Array[Boolean], n: Int)
    extends ArrayBackedVector(IntegerType, nulls, n) {
  override def getInt(rowId: Int): Int = values(rowId)
}

/** Materialized boolean vector: the output of a projected predicate
  * (a [[VecPredicate]] evaluated as a column — the quality-gate /
  * flag-projection shape). */
final class BooleanArrayVector(values: Array[Boolean], nulls: Array[Boolean], n: Int)
    extends ArrayBackedVector(BooleanType, nulls, n) {
  override def getBoolean(rowId: Int): Boolean = values(rowId)
}

/** Materialized Decimal128 vector: unscaled int128 values as two's-
  * complement (hi, lo) long pairs at the static type's scale. Generic
  * consumers go through getDecimal (ColumnarToRow, row operators); the
  * graft aggregate kernels pattern-match this class and read the long
  * pairs directly ([[AggSpec.SumDec128Spec]]).
  */
final class Dec128ArrayVector(hi: Array[Long], lo: Array[Long], nulls: Array[Boolean], n: Int,
    dt: DecimalType) extends ArrayBackedVector(dt, nulls, n) {
  def hiAt(rowId: Int): Long = hi(rowId)
  def loAt(rowId: Int): Long = lo(rowId)
  override def getDecimal(rowId: Int, p: Int, s: Int): Decimal = {
    val h = hi(rowId); val l = lo(rowId)
    if (h == (l >> 63)) Decimal.createUnsafe(l, p, s) // fits a compact long
    else Decimal(new java.math.BigDecimal(VecDec128Expr.big128(h, l), s), p, s)
  }
}

/** Materialized string vector: holds one UTF8String reference per row.
  * References may point into the child batch's buffers (ColS
  * pass-through inside a kernel tree) — valid under the
  * vectorized-reader contract that the consumer finishes with a batch
  * before pulling the next.
  */
final class StringArrayVector(values: Array[UTF8String], nulls: Array[Boolean], n: Int)
    extends ArrayBackedVector(StringType, nulls, n) {
  override def getUTF8String(rowId: Int): UTF8String = values(rowId)
}

/** Materialized array<string> vector: per-row slices of one flat
  * UTF8String child (offsets + lengths), the layout split() projections
  * produce. Element nulls don't exist (StringSplit's containsNull =
  * false), so the child's null mask is all-false. */
final class StringsListVector(flat: Array[UTF8String], offsets: Array[Int],
    lens: Array[Int], nulls: Array[Boolean], n: Int)
    extends ArrayBackedVector(ArrayType(StringType, containsNull = false), nulls, n) {
  private[this] val child = new StringArrayVector(flat, new Array[Boolean](flat.length), flat.length)
  override def getArray(rowId: Int): ColumnarArray =
    new ColumnarArray(child, offsets(rowId), lens(rowId))
  override def getChild(ordinal: Int): ColumnVector = child
}

/** All-null column of any type: the stream lanes of build-outer sweep
  * batches (consumers check isNullAt before any getter — the
  * ColumnarToRow/kernel contract). It holds no null mask; every row of
  * `[0, n)` is null.
  */
final class AllNullVector(dt: DataType, n: Int) extends ArrayBackedVector(dt, null, n) {
  override def hasNull: Boolean = true
  override def numNulls: Int = n
  override def isNullAt(rowId: Int): Boolean = true
}
