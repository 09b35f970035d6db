// In the org.apache.spark.sql namespace alongside the other graft
// operators — same placement the reference uses (org.apache.spark.sql.comet).
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** Per-function accumulator specs for the columnar partial aggregate.
  * Compiled on the driver by [[GraftColumnarAgg.compile]]; `slots` is how
  * many partial-buffer columns the function occupies in the output row
  * (Average = 2: sum + count). Update semantics mirror Spark's
  * DeclarativeAggregate definitions exactly — including the initial
  * buffer values an empty partition must emit (Sum: null, Average:
  * (0.0, 0)) so the final merge stays correct.
  */
sealed trait AggSpec extends Serializable { def slots: Int }
object AggSpec {
  /** count(*) when col < 0, else count(col) (non-nulls). */
  final case class CountSpec(col: Int) extends AggSpec { def slots = 1 }
  /** sum over float/double input; Spark's Sum buffer is DoubleType. */
  final case class SumDoubleSpec(col: Int, dt: DataType) extends AggSpec { def slots = 1 }
  /** min/max over the integral/date/time family; emits the input type. */
  final case class MinMaxLongSpec(col: Int, dt: DataType, isMin: Boolean) extends AggSpec { def slots = 1 }
  /** min/max over float/double with Spark's nan-safe ordering (NaN greatest). */
  final case class MinMaxDoubleSpec(col: Int, dt: DataType, isMin: Boolean) extends AggSpec { def slots = 1 }
  final case class MinMaxStringSpec(col: Int, isMin: Boolean) extends AggSpec { def slots = 1 }
  /** avg over numeric input: buffer = (sum: Double, count: Long). */
  final case class AvgSpec(col: Int, dt: DataType) extends AggSpec { def slots = 2 }

  /** sum over a Decimal64 input (precision ≤ 18): exact unscaled-long
    * accumulation with a BigInteger escape on long overflow (the
    * reference's checked-decimal investment, sum_decimal.rs). Buffer is
    * Spark's own decimal Sum layout: (sum: DecimalType bounded(p+10, s)
    * — may exceed 18 digits, stored as bytes — isEmpty: Boolean).
    * `ansi` drives the FINAL stage's CheckOverflowInSum semantics
    * (throw vs null on overflow); TRY-mode sums don't compile.
    */
  final case class SumDec64Spec(col: Int, in: DecimalType, buf: DecimalType,
      ansi: Boolean) extends AggSpec { def slots = 2 }
  /** sum over a WIDE decimal input (precision 19..38 — the TPC-H money
    * product shape, decimal(37,4)): exact two's-complement int128
    * accumulation in a per-group (hi, lo) long pair with a BigInteger
    * escape past 2^127, read through [[Dec128ArrayVector]]'s long-pair
    * channel when the input column is graft-produced (the absorbed
    * kernel project) and the getDecimal contract otherwise. Same
    * (sum, isEmpty) buffer layout and emission-time precision clamp as
    * [[SumDec64Spec]]. Ref: native/spark-expr sum_decimal.rs — the
    * i128 sum accumulator this spec re-expresses on the JVM. */
  final case class SumDec128Spec(col: Int, in: DecimalType, buf: DecimalType,
      ansi: Boolean) extends AggSpec { def slots = 2 }
  /** avg over a WIDE decimal input (precision 19..38): the
    * [[SumDec128Spec]] int128 sum in the object lane, count in the
    * (free) long lane — buffer = (sum: bounded(p+10, s) initialized to
    * ZERO, count: Long), the FINAL divide stays on the row Average
    * exactly as [[AvgDec64Spec]]. TRY keeps the row path. */
  final case class AvgDec128Spec(col: Int, in: DecimalType, buf: DecimalType)
      extends AggSpec { def slots = 2 }
  /** min/max over a WIDE decimal input (precision 19..38): signed
    * int128 comparisons on (hi, lo) long pairs held in the object lane
    * — same reading channels as [[SumDec128Spec]], one slot of the
    * input type. Never overflows (the extremum IS an input value). */
  final case class MinMaxDec128Spec(col: Int, dt: DecimalType, isMin: Boolean)
      extends AggSpec { def slots = 1 }
  /** The two decimal-sum partials share the (sum, isEmpty) buffer
    * contract; the FINAL merge reads buffers through the row's
    * getDecimal and is representation-agnostic — match either. */
  object DecSumSpec {
    def unapply(s: AggSpec): Option[(Int, DecimalType, Boolean)] = s match {
      case SumDec64Spec(col, _, buf, ansi) => Some((col, buf, ansi))
      case SumDec128Spec(col, _, buf, ansi) => Some((col, buf, ansi))
      case _ => None
    }
  }
  /** min/max over a Decimal64 input: unscaled-long comparisons (same
    * scale throughout — ordering is exact), one slot of the input type. */
  final case class MinMaxDec64Spec(col: Int, dt: DecimalType, isMin: Boolean)
      extends AggSpec { def slots = 1 }
  /** sum over integral input: nullable LongType buffer, two's-complement
    * wrap on LEGACY overflow, throw on ANSI — Spark's Add semantics.
    * Also matches the optimizer's DecimalAggregates rewrite
    * sum(UnscaledValue(decimal ≤ 8 digits)); there `in` is the
    * DecimalType and the kernel reads the vector's unscaled channel.
    */
  final case class SumLongSpec(col: Int, in: DataType, ansi: Boolean)
      extends AggSpec { def slots = 1 }
  /** Central-moment family partial: Spark's CentralMomentAgg buffer
    * (n: Double, avg, m2[, m3[, m4]]) via the same update expression
    * tree term-for-term (CentralMomentAgg.updateExpressions), evaluated
    * in row order, so the partial buffers are bit-identical to the row
    * path's. `order` = the function's momentOrder: 2 for
    * stddev/variance (either divisor — the PARTIAL buffers match, the
    * unswapped row final stage differentiates divisor and null/NaN
    * edges), 3 for skewness (adds the m3 lane), 4 for kurtosis (m3 +
    * m4) — so q130-shaped mixed variance+skew+kurt aggregations swap
    * whole. n is held as an exact long and emitted as double (exact
    * below 2^53, same value Spark's double-typed n carries). A/B
    * (FilterMicroBench grouped-agg-moments, sf0.1, 3 session runs):
    * 0.86-0.94x of the codegen'd row partial — the same winning class
    * as the sum kernels.
    */
  final case class MomentsSpec(col: Int, order: Int) extends AggSpec {
    def slots = order + 1
  }
  /** covar_pop/covar_samp partial: Spark's Covariance buffer (n, xAvg,
    * yAvg, ck) via the same bivariate Welford update tree — rows update
    * only when BOTH inputs are non-null (Spark's co-moment null
    * semantics). One spec serves both divisor variants. */
  final case class CovSpec(xCol: Int, yCol: Int) extends AggSpec { def slots = 4 }
  /** corr partial: PearsonCorrelation buffer (n, xAvg, yAvg, ck, xMk,
    * yMk) — the Covariance update plus per-axis m2 lanes. */
  final case class CorrSpec(xCol: Int, yCol: Int) extends AggSpec { def slots = 6 }
  /** Central-moment family FINAL: merges the shuffled (n, avg, m2[,
    * m3[, m4]]) buffer rows with CentralMomentAgg.mergeExpressions
    * term-for-term (same textual operation order, so the combined
    * buffer is bit-identical to the row path's for the same arrival
    * order) and finalizes per `kind` — completing the q130-shaped
    * moments pipeline columnar on BOTH exchange sides. `col` is the
    * first buffer ordinal (buffers are consecutive doubles). kind:
    * 0 stddev_samp, 1 stddev_pop, 2 var_samp, 3 var_pop, 4 skewness,
    * 5 kurtosis — the divisor/NaN edges live in the emission switch
    * (n=0 → null; n=1 → NaN for the sample divisors; m2=0 → NaN for
    * skew/kurt), replicating each function's evaluateExpression. */
  /** approx_count_distinct FINAL merge: HyperLogLogPlusPlus's buffer is
    * numWords non-nullable longs (10 six-bit registers per word). The
    * merge runs Spark's own HyperLogLogPlusPlusHelper.merge
    * (register-wise max) against a per-group long[numWords] in the
    * object lane, and the emit is helper.query (raw estimate + bias
    * correction) — both invoked on the 4.1.2 helper itself, so the
    * estimate is bit-exact by construction. Partial updates (per-row
    * xxhash64 register writes) stay row; the census-measured gap was
    * the final merge (q129's 3 hits). Ref: the reference disables
    * HLL natively and falls back wholesale
    * (serde/aggregates, unsupported-agg list) — this keeps the merge
    * side columnar instead. */
  final case class HllMergeSpec(col: Int, numWords: Int, relativeSD: Double)
      extends AggSpec { def slots = numWords }

  final case class MomentsFinalSpec(col: Int, order: Int, kind: Int,
      nullOnDiv: Boolean) extends AggSpec { def slots = order + 1 }
  /** covar_pop/covar_samp FINAL: merges (n, xAvg, yAvg, ck) with
    * Covariance.mergeExpressions; ck/n or ck/(n-1) at emission
    * (n=0 → null, n=1 sample → NaN). */
  final case class CovFinalSpec(col: Int, isSample: Boolean,
      nullOnDiv: Boolean) extends AggSpec { def slots = 4 }
  /** corr FINAL: merges (n, xAvg, yAvg, ck, xMk, yMk) with
    * PearsonCorrelation.mergeExpressions; ck / sqrt(xMk*yMk) at
    * emission (n=0 → null, n=1 → the divide-by-zero result). Unlike
    * skewness/kurtosis, Corr has NO m2=0 guard: constant inputs give a
    * zero divisor, and the row path's ANSI Divide THROWS there — `ansi`
    * replicates that (NULL when off, SQL division semantics). */
  final case class CorrFinalSpec(col: Int, nullOnDiv: Boolean, ansi: Boolean)
      extends AggSpec { def slots = 6 }

  /** regr_slope FINAL: RegrSlope's buffer is CovPopulation(y,x)'s
    * (n, xAvg, yAvg, ck) ++ VariancePop(x)'s (n, avg, m2) — 7 doubles.
    * Merge = the two sub-aggregates' mergeExpressions term-for-term
    * (the Covariance and order-2 CentralMomentAgg combines already
    * implemented for Cov/MomentsFinalSpec); emission = NULL when
    * var-n or m2 is 0, else ck / m2 (the guard makes the divide
    * throw-free in every eval mode). */
  final case class RegrSlopeFinalSpec(col: Int) extends AggSpec { def slots = 7 }

  /** regr_intercept FINAL: same 7-double CovPopulation ++ VariancePop
    * buffer and merge as [[RegrSlopeFinalSpec]]; emission =
    * yAvg - ck / m2 * xAvg (NULL when var-n or m2 is 0). */
  final case class RegrInterceptFinalSpec(col: Int) extends AggSpec { def slots = 7 }

  /** avg over a Decimal64 input: buffer = (sum: DecimalType
    * bounded(p+10, s) initialized to ZERO, count: Long) — the SumDec64
    * exact unscaled-long kernel (BigInteger escape, precision clamp to
    * null on overflow) plus a count lane. TRY mode keeps the row path. */
  final case class AvgDec64Spec(col: Int, in: DecimalType, buf: DecimalType)
      extends AggSpec { def slots = 2 }
  /** first/last partial: Spark's (value: T, valueSet: Boolean) buffer.
    * Row order within the partition == batch order, so the captured
    * value matches the row path's exactly. With ignoreNulls=false the
    * captured value may itself be NULL (the first/last ROW's value) —
    * the object lane marks that case. `last` overwrites per qualifying
    * row (strings clone per capture — the simple correct form; the
    * first variant stops capturing once set). */
  final case class FirstLastSpec(col: Int, dt: DataType, isFirst: Boolean,
      ignoreNulls: Boolean) extends AggSpec { def slots = 2 }
}

/** Columnar partial HashAggregate for GLOBAL (no grouping keys)
  * aggregation: consumes the scan's ColumnarBatches directly and emits
  * ONE single-row batch per partition holding Spark's own partial
  * aggregation buffer layout, which the unmodified final HashAggregate
  * merges after the shuffle. Completes the SURVEY §7.1 columnar trio
  * (select / filter / aggregate); reference analogue: native
  * HashAggregate partial mode (planner.rs agg serde +
  * operators.scala:386-776 JVM wiring).
  *
  * Supported: count(*)/count(col), sum(float/double), sum(decimal ≤ 18
  * digits — exact unscaled-long kernel, Spark's (sum, isEmpty) buffer),
  * min/max over integral/date/time/float/double/string/decimal64,
  * avg(numeric). Anything else (128-bit decimals, try_sum, ANSI long
  * sums with overflow checks, DISTINCT, FILTER clauses) keeps the row
  * path — the rule tags the node with the reason.
  */
case class GraftColumnarPartialAggExec(
    output: Seq[Attribute], specs: Seq[AggSpec], child: SparkPlan)
    extends UnaryExecNode {

  override def supportsColumnar: Boolean = true
  // one row per partition; partitioning is irrelevant downstream (the
  // final agg requires a single partition via its own exchange)
  override def outputPartitioning = child.outputPartitioning

  override lazy val metrics = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numBatches" -> SQLMetrics.createMetric(sparkContext, "number of input batches"))

  private def run(iter: Iterator[ColumnarBatch]): (Array[Long], Array[Double],
      Array[UTF8String], Array[AnyRef], Array[Boolean], Long, Long) = {
    import AggSpec._
    val n = specs.length
    val longAcc = new Array[Long](n)
    val dblAcc = new Array[Double](n)
    val strAcc = new Array[UTF8String](n)
    val objAcc = new Array[AnyRef](n)
    val seen = new Array[Boolean](n)
    var rows = 0L; var batches = 0L
    iter.foreach { batch =>
      val m = batch.numRows()
      rows += m; batches += 1
      var si = 0
      while (si < n) {
        specs(si) match {
          case CountSpec(col) =>
            if (col < 0) longAcc(si) += m
            else {
              val v = batch.column(col)
              var i = 0
              while (i < m) { if (!v.isNullAt(i)) longAcc(si) += 1; i += 1 }
            }
          case SumDoubleSpec(col, dt) =>
            val v = batch.column(col)
            val isFloat = dt == FloatType
            var i = 0
            while (i < m) {
              if (!v.isNullAt(i)) {
                dblAcc(si) += (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i))
                seen(si) = true
              }
              i += 1
            }
          case MinMaxLongSpec(col, dt, isMin) =>
            val v = batch.column(col)
            val get: Int => Long = dt match {
              case ByteType => v.getByte(_).toLong
              case ShortType => v.getShort(_).toLong
              case IntegerType | DateType => v.getInt(_).toLong
              case _ => v.getLong
            }
            var i = 0
            while (i < m) {
              if (!v.isNullAt(i)) {
                val x = get(i)
                if (!seen(si) || (if (isMin) x < longAcc(si) else x > longAcc(si))) longAcc(si) = x
                seen(si) = true
              }
              i += 1
            }
          case MinMaxDoubleSpec(col, dt, isMin) =>
            val v = batch.column(col)
            val isFloat = dt == FloatType
            var i = 0
            while (i < m) {
              if (!v.isNullAt(i)) {
                val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
                // Spark's nanSafeCompareDoubles ordering: NaN is greatest
                val better =
                  if (!seen(si)) true
                  else if (isMin) GraftColumnarAgg.nanSafeLt(x, dblAcc(si))
                  else GraftColumnarAgg.nanSafeLt(dblAcc(si), x)
                if (better) dblAcc(si) = x
                seen(si) = true
              }
              i += 1
            }
          case MinMaxStringSpec(col, isMin) =>
            val v = batch.column(col)
            var i = 0
            while (i < m) {
              if (!v.isNullAt(i)) {
                val s = v.getUTF8String(i)
                if (!seen(si) ||
                    (if (isMin) s.compareTo(strAcc(si)) < 0 else s.compareTo(strAcc(si)) > 0)) {
                  strAcc(si) = s.clone() // vector memory is reused across batches
                }
                seen(si) = true
              }
              i += 1
            }
          case AvgSpec(col, dt) =>
            val v = batch.column(col)
            val get: Int => Double = dt match {
              case ByteType => v.getByte(_).toDouble
              case ShortType => v.getShort(_).toDouble
              case IntegerType => v.getInt(_).toDouble
              case LongType => v.getLong(_).toDouble
              case FloatType => v.getFloat(_).toDouble
              case _ => v.getDouble
            }
            var i = 0
            while (i < m) {
              if (!v.isNullAt(i)) { dblAcc(si) += get(i); longAcc(si) += 1 }
              i += 1
            }
          case SumDec64Spec(col, in, _, _) =>
            val v = batch.column(col)
            val get = GraftColumnarAgg.dec64VecGetter(v, in)
            var i = 0
            while (i < m) {
              if (!v.isNullAt(i)) {
                val x = get(i)
                val big = objAcc(si)
                if (big == null) {
                  val s0 = longAcc(si); val r = s0 + x
                  if (((s0 ^ r) & (x ^ r)) < 0L) // signed-add overflow → escape
                    objAcc(si) = java.math.BigInteger.valueOf(s0)
                      .add(java.math.BigInteger.valueOf(x))
                  else longAcc(si) = r
                } else objAcc(si) = big.asInstanceOf[java.math.BigInteger]
                  .add(java.math.BigInteger.valueOf(x))
                seen(si) = true
              }
              i += 1
            }
          case SumDec128Spec(col, in, _, _) =>
            val v = batch.column(col)
            v match {
              case dv: Dec128ArrayVector =>
                var i = 0
                while (i < m) {
                  if (!dv.isNullAt(i)) {
                    GraftColumnarAgg.addDec128(objAcc, si, dv.hiAt(i), dv.loAt(i))
                    seen(si) = true
                  }
                  i += 1
                }
              case _ =>
                // generic columns (parquet binary-backed decimals):
                // per-row BigInteger through the getDecimal contract
                var i = 0
                while (i < m) {
                  if (!v.isNullAt(i)) {
                    val bi = v.getDecimal(i, in.precision, in.scale)
                      .toJavaBigDecimal.unscaledValue()
                    GraftColumnarAgg.addDec128(objAcc, si,
                      VecDec128Expr.hiOf(bi), VecDec128Expr.loOf(bi))
                    seen(si) = true
                  }
                  i += 1
                }
            }
          case MinMaxDec64Spec(col, dt, isMin) =>
            val v = batch.column(col)
            val get = GraftColumnarAgg.dec64VecGetter(v, dt)
            var i = 0
            while (i < m) {
              if (!v.isNullAt(i)) {
                val x = get(i)
                if (!seen(si) || (if (isMin) x < longAcc(si) else x > longAcc(si)))
                  longAcc(si) = x
                seen(si) = true
              }
              i += 1
            }
          case MinMaxDec128Spec(col, dt, isMin) =>
            val v = batch.column(col)
            v match {
              case dv: Dec128ArrayVector =>
                var i = 0
                while (i < m) {
                  if (!dv.isNullAt(i)) {
                    GraftColumnarAgg.minMaxDec128(objAcc, si, dv.hiAt(i), dv.loAt(i),
                      isMin, seen(si))
                    seen(si) = true
                  }
                  i += 1
                }
              case _ =>
                var i = 0
                while (i < m) {
                  if (!v.isNullAt(i)) {
                    val bi = v.getDecimal(i, dt.precision, dt.scale)
                      .toJavaBigDecimal.unscaledValue()
                    GraftColumnarAgg.minMaxDec128(objAcc, si,
                      VecDec128Expr.hiOf(bi), VecDec128Expr.loOf(bi), isMin, seen(si))
                    seen(si) = true
                  }
                  i += 1
                }
            }
          case SumLongSpec(col, in, ansi) =>
            val v = batch.column(col)
            val get = GraftColumnarAgg.longSumGetter(v, in)
            var i = 0
            while (i < m) {
              if (!v.isNullAt(i)) {
                longAcc(si) = GraftColumnarAgg.addLong(longAcc(si), get(i), ansi)
                seen(si) = true
              }
              i += 1
            }
          case MomentsSpec(col, order) =>
            val v = batch.column(col)
            var arr = objAcc(si).asInstanceOf[Array[Double]]
            if (arr == null) { arr = new Array[Double](order); objAcc(si) = arr }
            var i = 0
            while (i < m) {
              if (!v.isNullAt(i)) {
                longAcc(si) = GraftColumnarAgg.momUpdate(
                  arr, longAcc(si), v.getDouble(i), order)
              }
              i += 1
            }
          case CovSpec(xCol, yCol) =>
            val vx = batch.column(xCol)
            val vy = batch.column(yCol)
            var arr = objAcc(si).asInstanceOf[Array[Double]]
            if (arr == null) { arr = new Array[Double](3); objAcc(si) = arr }
            var i = 0
            while (i < m) {
              if (!vx.isNullAt(i) && !vy.isNullAt(i)) {
                longAcc(si) = GraftColumnarAgg.covUpdate(
                  arr, longAcc(si), vx.getDouble(i), vy.getDouble(i), corr = false)
              }
              i += 1
            }
          case CorrSpec(xCol, yCol) =>
            val vx = batch.column(xCol)
            val vy = batch.column(yCol)
            var arr = objAcc(si).asInstanceOf[Array[Double]]
            if (arr == null) { arr = new Array[Double](5); objAcc(si) = arr }
            var i = 0
            while (i < m) {
              if (!vx.isNullAt(i) && !vy.isNullAt(i)) {
                longAcc(si) = GraftColumnarAgg.covUpdate(
                  arr, longAcc(si), vx.getDouble(i), vy.getDouble(i), corr = true)
              }
              i += 1
            }
          case AvgDec64Spec(col, in, _) =>
            // the SumDec64 add-with-escape on the sum lane; count rides
            // the (otherwise unused) double lane — exact below 2^53
            val v = batch.column(col)
            val get = GraftColumnarAgg.dec64VecGetter(v, in)
            var i = 0
            while (i < m) {
              if (!v.isNullAt(i)) {
                val x = get(i)
                val big = objAcc(si)
                if (big == null) {
                  val s0 = longAcc(si); val r = s0 + x
                  if (((s0 ^ r) & (x ^ r)) < 0L)
                    objAcc(si) = java.math.BigInteger.valueOf(s0)
                      .add(java.math.BigInteger.valueOf(x))
                  else longAcc(si) = r
                } else objAcc(si) = big.asInstanceOf[java.math.BigInteger]
                  .add(java.math.BigInteger.valueOf(x))
                dblAcc(si) += 1
              }
              i += 1
            }
          case AvgDec128Spec(col, in, _) =>
            // SumDec128's int128 add in the object lane; count in the
            // (otherwise unused) long lane
            val v = batch.column(col)
            v match {
              case dv: Dec128ArrayVector =>
                var i = 0
                while (i < m) {
                  if (!dv.isNullAt(i)) {
                    GraftColumnarAgg.addDec128(objAcc, si, dv.hiAt(i), dv.loAt(i))
                    longAcc(si) += 1
                  }
                  i += 1
                }
              case _ =>
                var i = 0
                while (i < m) {
                  if (!v.isNullAt(i)) {
                    val bi = v.getDecimal(i, in.precision, in.scale)
                      .toJavaBigDecimal.unscaledValue()
                    GraftColumnarAgg.addDec128(objAcc, si,
                      VecDec128Expr.hiOf(bi), VecDec128Expr.loOf(bi))
                    longAcc(si) += 1
                  }
                  i += 1
                }
            }
          case FirstLastSpec(col, dt, isFirst, ignoreNulls) =>
            if (!(isFirst && seen(si))) {
              val v = batch.column(col)
              var i = 0
              var break = false
              while (i < m && !break) {
                val isNull = v.isNullAt(i)
                if (!ignoreNulls || !isNull) {
                  if (isNull) objAcc(si) = java.lang.Boolean.TRUE
                  else {
                    objAcc(si) = null
                    GraftColumnarAgg.captureSlot(v, i, dt, longAcc, dblAcc, strAcc, si)
                  }
                  seen(si) = true
                  if (isFirst) break = true
                }
                i += 1
              }
            }
        }
        si += 1
      }
    }
    (longAcc, dblAcc, strAcc, objAcc, seen, rows, batches)
  }

  /** Write the accumulated buffer into output slot values. */
  private def bufferValues(longAcc: Array[Long], dblAcc: Array[Double],
      strAcc: Array[UTF8String], objAcc: Array[AnyRef],
      seen: Array[Boolean]): Array[Any] = {
    import AggSpec._
    val out = new Array[Any](output.length)
    var slot = 0; var si = 0
    while (si < specs.length) {
      specs(si) match {
        case CountSpec(_) => out(slot) = longAcc(si); slot += 1
        case SumDoubleSpec(_, _) =>
          out(slot) = if (seen(si)) dblAcc(si) else null; slot += 1
        case MinMaxLongSpec(_, dt, _) =>
          out(slot) = if (!seen(si)) null else dt match {
            case ByteType => longAcc(si).toByte
            case ShortType => longAcc(si).toShort
            case IntegerType | DateType => longAcc(si).toInt
            case _ => longAcc(si)
          }
          slot += 1
        case MinMaxDoubleSpec(_, dt, _) =>
          out(slot) = if (!seen(si)) null
            else if (dt == FloatType) dblAcc(si).toFloat else dblAcc(si)
          slot += 1
        case MinMaxStringSpec(_, _) =>
          out(slot) = if (seen(si)) strAcc(si) else null; slot += 1
        case AvgSpec(_, _) =>
          // Average's initial buffer is (0.0, 0L), NOT null — its merge
          // expression is a plain null-propagating Add.
          out(slot) = dblAcc(si); out(slot + 1) = longAcc(si); slot += 2
        case SumDec64Spec(_, _, buf, _) =>
          // buffer = (sum, isEmpty). Sum's decimal buffer INITIALIZES
          // sum to ZERO (isEmpty carries the no-input case) and the
          // merge adds KnownNotNull(sum) unconditionally — so the empty
          // emit must be (0, true), never (null, true). A null sum
          // means exactly one thing: overflow past the buffer
          // precision (the clamp UnsafeRow.setDecimal applies on the
          // row path's every buffer write).
          out(slot) =
            if (!seen(si)) Decimal.createUnsafe(0L, buf.precision, buf.scale)
            else objAcc(si) match {
              case null =>
                if (GraftColumnarAgg.fitsPrecision(longAcc(si), buf.precision))
                  Decimal.createUnsafe(longAcc(si), buf.precision, buf.scale)
                else null
              case bi: java.math.BigInteger =>
                if (GraftColumnarAgg.fitsPrecision(bi, buf.precision))
                  Decimal(new java.math.BigDecimal(bi, buf.scale))
                else null
              case _ => null
            }
          out(slot + 1) = java.lang.Boolean.valueOf(!seen(si))
          slot += 2
        case SumDec128Spec(_, _, buf, _) =>
          // same (sum, isEmpty) contract as SumDec64Spec: empty emits
          // (ZERO, true); a null sum means overflow, nothing else
          out(slot) =
            if (!seen(si)) Decimal.createUnsafe(0L, buf.precision, buf.scale)
            else GraftColumnarAgg.dec128SumDecimal(objAcc(si), buf)
          out(slot + 1) = java.lang.Boolean.valueOf(!seen(si))
          slot += 2
        case MinMaxDec64Spec(_, dt, _) =>
          out(slot) =
            if (seen(si)) Decimal.createUnsafe(longAcc(si), dt.precision, dt.scale)
            else null
          slot += 1
        case MinMaxDec128Spec(_, dt, _) =>
          out(slot) = objAcc(si) match {
            case a: Array[Long] if seen(si) => GraftColumnarAgg.dec128Value(a(0), a(1), dt)
            case _ => null
          }
          slot += 1
        case SumLongSpec(_, _, _) =>
          out(slot) = if (seen(si)) longAcc(si) else null; slot += 1
        case MomentsSpec(_, order) =>
          // CentralMomentAgg buffers are non-nullable, initialized 0.0
          val arr = objAcc(si).asInstanceOf[Array[Double]]
          out(slot) = longAcc(si).toDouble
          var k = 0
          while (k < order) {
            out(slot + 1 + k) = if (arr == null) 0.0 else arr(k)
            k += 1
          }
          slot += order + 1
        case s @ (CovSpec(_, _) | CorrSpec(_, _)) =>
          val arr = objAcc(si).asInstanceOf[Array[Double]]
          out(slot) = longAcc(si).toDouble
          var k = 1
          while (k < s.slots) {
            out(slot + k) = if (arr == null) 0.0 else arr(k - 1)
            k += 1
          }
          slot += s.slots
        case AvgDec64Spec(_, _, buf) =>
          // Average's decimal buffer initializes sum to ZERO; a null
          // sum means exactly one thing — overflow past the buffer
          // precision (same clamp as the SumDec64 path)
          out(slot) = objAcc(si) match {
            case null =>
              if (GraftColumnarAgg.fitsPrecision(longAcc(si), buf.precision))
                Decimal.createUnsafe(longAcc(si), buf.precision, buf.scale)
              else null
            case bi: java.math.BigInteger =>
              if (GraftColumnarAgg.fitsPrecision(bi, buf.precision))
                Decimal(new java.math.BigDecimal(bi, buf.scale))
              else null
            case _ => null
          }
          out(slot + 1) = dblAcc(si).toLong
          slot += 2
        case AvgDec128Spec(_, _, buf) =>
          // Average's decimal buffer initializes sum to ZERO; a null
          // sum means overflow past the buffer precision, nothing else
          out(slot) = objAcc(si) match {
            case null => Decimal.createUnsafe(0L, buf.precision, buf.scale)
            case acc => GraftColumnarAgg.dec128SumDecimal(acc, buf)
          }
          out(slot + 1) = longAcc(si)
          slot += 2
        case FirstLastSpec(_, dt, _, _) =>
          out(slot) =
            if (!seen(si) || (objAcc(si) ne null)) null
            else dt match {
              case DoubleType => dblAcc(si)
              case FloatType => dblAcc(si).toFloat
              case StringType => strAcc(si)
              case d: DecimalType => Decimal.createUnsafe(longAcc(si), d.precision, d.scale)
              case ByteType => longAcc(si).toByte
              case ShortType => longAcc(si).toShort
              case IntegerType | DateType => longAcc(si).toInt
              case BooleanType => java.lang.Boolean.valueOf(longAcc(si) != 0L)
              case _ => longAcc(si)
            }
          out(slot + 1) = java.lang.Boolean.valueOf(seen(si))
          slot += 2
      }
      si += 1
    }
    out
  }

  override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val (inM, batchM) = (metrics("numInputRows"), metrics("numBatches"))
    val schema = StructType(output.map(a => StructField(a.name, a.dataType, a.nullable)))
    child.executeColumnar().mapPartitionsInternal { iter =>
      val (longAcc, dblAcc, strAcc, objAcc, seen, rows, batches) = run(iter)
      inM.add(rows); batchM.add(batches)
      val values = bufferValues(longAcc, dblAcc, strAcc, objAcc, seen)
      val cols = OnHeapColumnVector.allocateColumns(1, schema)
      var c = 0
      while (c < cols.length) {
        (values(c), schema(c).dataType) match {
          case (null, _) => cols(c).putNull(0)
          case (v: Long, _) => cols(c).putLong(0, v)
          case (v: Int, _) => cols(c).putInt(0, v)
          case (v: Short, _) => cols(c).putShort(0, v)
          case (v: Byte, _) => cols(c).putByte(0, v)
          case (v: Double, _) => cols(c).putDouble(0, v)
          case (v: Float, _) => cols(c).putFloat(0, v)
          case (v: UTF8String, _) => cols(c).putByteArray(0, v.getBytes)
          case (v: Decimal, dt: DecimalType) => cols(c).putDecimal(0, v, dt.precision)
          case (v: java.lang.Boolean, _) => cols(c).putBoolean(0, v.booleanValue())
          case (v, dt) => throw new IllegalStateException(s"unexpected buffer value $v: $dt")
        }
        c += 1
      }
      Iterator.single(new ColumnarBatch(cols.toArray[ColumnVector], 1))
    }
  }

  /** Row fallback: same accumulation, one InternalRow per partition. */
  override protected def doExecute(): RDD[InternalRow] = {
    val types = output.map(_.dataType)
    child.execute().mapPartitionsInternal { _ =>
      // The planner routes through the columnar path (supportsColumnar);
      // a row-input path would need row-based accumulators. Unreachable
      // by construction — the rule only swaps over columnar children.
      throw new IllegalStateException(
        s"GraftColumnarPartialAgg row path not implemented (types=$types)")
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftColumnarPartialAggExec =
    copy(child = newChild)
}

object GraftColumnarAgg {
  import AggSpec._

  /** Sentinel in a group's object-accumulator slot marking a decimal
    * sum poisoned by an upstream overflow (a non-empty merged buffer
    * whose sum was null) — the final evaluate nulls or throws per
    * CheckOverflowInSum. Identity-compared (`eq`).
    */
  val DecPoison: AnyRef = new Object

  /** Merge one NON-NULL partial decimal sum `d` into a group's
    * accumulator (the DecSumSpec merge conventions: running sum in
    * longAcc with a BigInteger escape in objAcc on 64-bit overflow;
    * the caller has already handled the isEmpty/null/poison arms).
    * Shared by the row-input final/partial-merge exec and the
    * columnar mixed-mode accumulate. */
  def mergeDecSumValue(longAcc: Array[Long], objAcc: Array[AnyRef], gid: Int,
      d: org.apache.spark.sql.types.Decimal): Unit = {
    val cur = objAcc(gid)
    if (cur == null && d.toJavaBigDecimal.unscaledValue.bitLength < 63) {
      val x = d.toJavaBigDecimal.unscaledValue.longValue
      val s0 = longAcc(gid); val rr = s0 + x
      if (((s0 ^ rr) & (x ^ rr)) < 0L)
        objAcc(gid) = java.math.BigInteger.valueOf(s0)
          .add(java.math.BigInteger.valueOf(x))
      else longAcc(gid) = rr
    } else {
      val base =
        if (cur == null) java.math.BigInteger.valueOf(longAcc(gid))
        else cur.asInstanceOf[java.math.BigInteger]
      objAcc(gid) = base.add(d.toJavaBigDecimal.unscaledValue)
    }
  }

  private val POW10L: Array[Long] = {
    val a = new Array[Long](19); a(0) = 1L
    var i = 1; while (i < 19) { a(i) = a(i - 1) * 10L; i += 1 }; a
  }
  private val POW10BI: Array[java.math.BigInteger] =
    Array.tabulate(39)(java.math.BigInteger.TEN.pow)

  /** Would an unscaled value still fit `p` digits? (p ≥ 19 always fits
    * a long; the BigInteger overload covers the wide-buffer path.) */
  def fitsPrecision(v: Long, p: Int): Boolean =
    p >= 19 || (v > -POW10L(p) && v < POW10L(p))
  def fitsPrecision(v: java.math.BigInteger, p: Int): Boolean =
    v.abs.compareTo(POW10BI(p)) < 0

  /** Unscaled-long reader for a Decimal64 vector column. The
    * ColumnVector contract stores precision ≤ 9 decimals through the
    * int channel and 10..18 through the long channel (the base class's
    * own getDecimal dispatch).
    */
  def dec64VecGetter(v: org.apache.spark.sql.vectorized.ColumnVector,
      dt: DecimalType): Int => Long =
    if (dt.precision <= Decimal.MAX_INT_DIGITS) i => v.getInt(i).toLong else v.getLong

  /** Widened-to-long reader for a SumLongSpec input: integral channels,
    * or the unscaled channel for the DecimalAggregates rewrite. */
  def longSumGetter(v: org.apache.spark.sql.vectorized.ColumnVector,
      in: DataType): Int => Long = in match {
    case d: DecimalType => dec64VecGetter(v, d)
    case ByteType => v.getByte(_).toLong
    case ShortType => v.getShort(_).toLong
    case IntegerType => v.getInt(_).toLong
    case _ => v.getLong
  }

  /** One long-sum step: two's-complement wrap (LEGACY) or Spark's ANSI
    * arithmetic-overflow error — Add's exact long semantics. */
  def addLong(a: Long, b: Long, ansi: Boolean): Long = {
    val r = a + b
    if (ansi && ((a ^ r) & (b ^ r)) < 0L)
      throw org.apache.spark.sql.errors.QueryExecutionErrors
        .arithmeticOverflowError("long overflow", "try_add", null)
    r
  }

  /** True when a spec set justifies staging a ROW child through
    * RowToColumnarExec: only the decimal money lanes — whose
    * unscaled-long/int128 accumulation replaces per-row BigDecimal
    * arithmetic — beat the fused codegen agg by more than the
    * row→batch copy costs (interleaved min-of-9 A/B: TPC-H
    * Q8 0.98×, Q14 0.94×, Q5 0.97×, Q9 1.01× with a money lane;
    * Q4/Q13/Q18/Q22 — count/min/max shapes — 0.99–1.05×, the copy is
    * pure overhead there). */
  def paysForRowStaging(specs: Seq[AggSpec]): Boolean = specs.exists {
    case _: SumDec64Spec | _: SumDec128Spec | _: AvgDec64Spec => true
    case _ => false
  }

  /** One int128 accumulation step for a wide decimal sum. The object
    * lane holds the running value: null = no input yet (seen carries
    * the distinction), long[2] = (hi, lo) two's-complement int128,
    * BigInteger = past-2^127 escape. The signed-overflow rule
    * (operands same sign, result different) is width-generic, so it
    * holds for the carried 128-bit add exactly as for 64. */
  def addDec128(acc: Array[AnyRef], idx: Int, vhi: Long, vlo: Long): Unit =
    acc(idx) match {
      case null => acc(idx) = Array[Long](vhi, vlo)
      case a: Array[Long] =>
        val lo = a(1); val nl = lo + vlo
        val carry = ((lo & vlo) | ((lo | vlo) & ~nl)) >>> 63
        val hi = a(0); val nh = hi + vhi + carry
        if (((hi ^ nh) & (vhi ^ nh)) < 0L)
          acc(idx) = VecDec128Expr.big128(hi, lo).add(VecDec128Expr.big128(vhi, vlo))
        else { a(0) = nh; a(1) = nl }
      case bi => acc(idx) = bi.asInstanceOf[java.math.BigInteger]
        .add(VecDec128Expr.big128(vhi, vlo))
    }

  /** Signed int128 "<": high words decide, unsigned low words break. */
  def lt128(h1: Long, l1: Long, h2: Long, l2: Long): Boolean =
    if (h1 != h2) h1 < h2 else java.lang.Long.compareUnsigned(l1, l2) < 0

  /** One min/max step over an int128 value held as long[2] in the
    * object lane (allocated on the slot's first value). */
  def minMaxDec128(acc: Array[AnyRef], idx: Int, vhi: Long, vlo: Long,
      isMin: Boolean, seen: Boolean): Unit =
    acc(idx) match {
      case a: Array[Long] if seen =>
        if (if (isMin) lt128(vhi, vlo, a(0), a(1)) else lt128(a(0), a(1), vhi, vlo)) {
          a(0) = vhi; a(1) = vlo
        }
      case a: Array[Long] => a(0) = vhi; a(1) = vlo // reused slot, fresh group epoch
      case _ => acc(idx) = Array[Long](vhi, vlo)
    }

  /** (hi, lo) int128 → Decimal at dt — an extremum is an input value,
    * so it always fits its own type. */
  def dec128Value(hi: Long, lo: Long, dt: DecimalType): Decimal =
    if (hi == (lo >> 63)) Decimal.createUnsafe(lo, dt.precision, dt.scale)
    else Decimal(new java.math.BigDecimal(VecDec128Expr.big128(hi, lo), dt.scale),
      dt.precision, dt.scale)

  /** Finalized partial value of a [[AggSpec.SumDec128Spec]] accumulator:
    * the exact sum when it fits the buffer precision, null (= overflow,
    * the UnsafeRow.setDecimal clamp) otherwise. */
  def dec128SumDecimal(acc: AnyRef, buf: DecimalType): Decimal = acc match {
    case a: Array[Long] =>
      if (a(0) == (a(1) >> 63)) {
        if (fitsPrecision(a(1), buf.precision))
          Decimal.createUnsafe(a(1), buf.precision, buf.scale)
        else null
      } else {
        val bi = VecDec128Expr.big128(a(0), a(1))
        if (fitsPrecision(bi, buf.precision)) Decimal(new java.math.BigDecimal(bi, buf.scale))
        else null
      }
    case bi: java.math.BigInteger =>
      if (fitsPrecision(bi, buf.precision)) Decimal(new java.math.BigDecimal(bi, buf.scale))
      else null
    case _ => null
  }

  def putPartialDec128Sum(col: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      i: Int, acc: AnyRef, buf: DecimalType): Unit = {
    val d = dec128SumDecimal(acc, buf)
    if (d == null) col.putNull(i) else col.putDecimal(i, d, buf.precision)
  }

  def putPartialDecSum(col: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      i: Int, longVal: Long, obj: AnyRef, buf: DecimalType): Unit = obj match {
    case null =>
      if (fitsPrecision(longVal, buf.precision))
        col.putDecimal(i, Decimal.createUnsafe(longVal, buf.precision, buf.scale), buf.precision)
      else col.putNull(i)
    case bi: java.math.BigInteger =>
      if (fitsPrecision(bi, buf.precision))
        col.putDecimal(i, Decimal(new java.math.BigDecimal(bi, buf.scale)), buf.precision)
      else col.putNull(i)
    case _ => col.putNull(i)
  }

  /** Spark's nanSafeCompareDoubles "<": NaN is greatest, otherwise
    * java.lang.Double.compare (so -0.0 < 0.0, matching the ordering the
    * codegen'd least/greatest use).
    */
  /** One bivariate Welford step matching Spark's Covariance /
    * PearsonCorrelation update expressions term-for-term (same term
    * order → bit-identical partial buffers). `arr` = (xAvg, yAvg, ck)
    * plus (xMk, yMk) when `corr`. Returns the new n. */
  /** CentralMomentAgg.updateExpressions term-for-term: arr = (avg,
    * m2[, m3[, m4]]), returns newN. Associativity matches the catalyst
    * tree exactly (left-assoc +/-, `3.0 * deltaN * newM2` grouping) so
    * the buffers are bit-identical to the row partial's.
    */
  def momUpdate(arr: Array[Double], n: Long, x: Double, order: Int): Long = {
    val newN = n + 1
    val delta = x - arr(0)
    val deltaN = delta / newN
    val newM2 = arr(1) + delta * (delta - deltaN)
    arr(0) += deltaN
    arr(1) = newM2
    if (order >= 3) {
      val delta2 = delta * delta
      val deltaN2 = deltaN * deltaN
      val newM3 = arr(2) - 3.0 * deltaN * newM2 + delta * (delta2 - deltaN2)
      arr(2) = newM3
      if (order >= 4) {
        arr(3) = arr(3) - 4.0 * deltaN * newM3 - 6.0 * deltaN2 * newM2 +
          delta * (delta * delta2 - deltaN * deltaN2)
      }
    }
    newN
  }

  def covUpdate(arr: Array[Double], n: Long, x: Double, y: Double, corr: Boolean): Long = {
    val newN = n + 1
    val dx = x - arr(0)
    val dxN = dx / newN
    val dy = y - arr(1)
    val dyN = dy / newN
    val newXAvg = arr(0) + dxN
    val newYAvg = arr(1) + dyN
    arr(2) += dx * (y - newYAvg)
    if (corr) {
      arr(3) += dx * (x - newXAvg)
      arr(4) += dy * (y - newYAvg)
    }
    arr(0) = newXAvg
    arr(1) = newYAvg
    newN
  }

  /** Capture vector slot `i` into the spec's typed lane (first/last). */
  def captureSlot(v: org.apache.spark.sql.vectorized.ColumnVector, i: Int, dt: DataType,
      longAcc: Array[Long], dblAcc: Array[Double], strAcc: Array[UTF8String], si: Int): Unit =
    dt match {
      case DoubleType => dblAcc(si) = v.getDouble(i)
      case FloatType => dblAcc(si) = v.getFloat(i).toDouble
      case StringType => strAcc(si) = v.getUTF8String(i).clone()
      case d: DecimalType => longAcc(si) = v.getDecimal(i, d.precision, d.scale).toUnscaledLong
      case IntegerType | DateType => longAcc(si) = v.getInt(i).toLong
      case ShortType => longAcc(si) = v.getShort(i).toLong
      case ByteType => longAcc(si) = v.getByte(i).toLong
      case BooleanType => longAcc(si) = if (v.getBoolean(i)) 1L else 0L
      case _ => longAcc(si) = v.getLong(i)
    }

  def nanSafeLt(a: Double, b: Double): Boolean =
    if (java.lang.Double.isNaN(a)) false
    else if (java.lang.Double.isNaN(b)) true
    else java.lang.Double.compare(a, b) < 0

  /** The partial buffer column types a spec writes — must equal the
    * HashAggregate's own output types exactly or the swap is unsound. */
  def slotTypes(s: AggSpec): Seq[DataType] = s match {
    case CountSpec(_) => Seq(LongType)
    case SumDoubleSpec(_, _) => Seq(DoubleType)
    case MinMaxLongSpec(_, dt, _) => Seq(dt)
    case MinMaxDoubleSpec(_, dt, _) => Seq(dt)
    case MinMaxStringSpec(_, _) => Seq(StringType)
    case AvgSpec(_, _) => Seq(DoubleType, LongType)
    case SumDec64Spec(_, _, buf, _) => Seq(buf, BooleanType)
    case SumDec128Spec(_, _, buf, _) => Seq(buf, BooleanType)
    case MinMaxDec64Spec(_, dt, _) => Seq(dt)
    case MinMaxDec128Spec(_, dt, _) => Seq(dt)
    case SumLongSpec(_, _, _) => Seq(LongType)
    case m: MomentsSpec => Seq.fill(m.slots)(DoubleType)
    case s @ (CovSpec(_, _) | CorrSpec(_, _)) => Seq.fill(s.slots)(DoubleType)
    case AvgDec64Spec(_, _, buf) => Seq(buf, LongType)
    case AvgDec128Spec(_, _, buf) => Seq(buf, LongType)
    case FirstLastSpec(_, dt, _, _) => Seq(dt, BooleanType)
    // final-only specs never appear in a partial layout
    case s @ (MomentsFinalSpec(_, _, _, _) | CovFinalSpec(_, _, _) | CorrFinalSpec(_, _, _) |
        RegrSlopeFinalSpec(_) | RegrInterceptFinalSpec(_)) =>
      Seq.fill(s.slots)(DoubleType)
    case h: HllMergeSpec => Seq.fill(h.numWords)(LongType)
  }

  private val longFamily: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, DateType, TimestampType, TimestampNTZType)
  private val numeric: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  private def firstLastType(dt: DataType): Boolean = dt match {
    case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
    case StringType | DoubleType | FloatType | BooleanType => true
    case t => longFamily(t)
  }

  /** Compile one Partial-mode AggregateExpression into a spec, or a
    * fallback reason. `ord` resolves an attribute to a child column.
    */
  def compile(ae: AggregateExpression, ord: Expression => Int): Either[String, AggSpec] = {
    if (ae.mode != Partial) return scala.Left(s"mode ${ae.mode} is not Partial")
    // isDistinct is a PLANNING marker, not an update-semantics change:
    // the row HashAggregateExec evaluates a distinct-marked partial with
    // the same updateExpressions as a plain one (distinctness is
    // enforced by the keys-only dedup levels Spark plans BELOW this
    // node), so a node-for-node swap is exact — value-distinct plans
    // (sum/count(DISTINCT x)) ride the regular specs. A/B sf0.1
    // interleaved min-of-9: full one-distinct chain 0.83-0.93x vs row.
    if (ae.filter.isDefined) return scala.Left("FILTER clause")
    ae.aggregateFunction match {
      case Count(Seq(l: Literal)) if l.value != null => scala.Right(CountSpec(-1))
      case Count(Seq(a: AttributeReference)) if ord(a) >= 0 => scala.Right(CountSpec(ord(a)))
      case Sum(a: AttributeReference, _) if ord(a) >= 0 &&
          (a.dataType == DoubleType || a.dataType == FloatType) =>
        scala.Right(SumDoubleSpec(ord(a), a.dataType))
      case s @ Sum(a: AttributeReference, ctx) if ord(a) >= 0 &&
          a.dataType.isInstanceOf[DecimalType] &&
          a.dataType.asInstanceOf[DecimalType].precision <= Decimal.MAX_LONG_DIGITS &&
          ctx.evalMode != EvalMode.TRY =>
        scala.Right(SumDec64Spec(ord(a), a.dataType.asInstanceOf[DecimalType],
          s.dataType.asInstanceOf[DecimalType], ctx.evalMode == EvalMode.ANSI))
      case s @ Sum(a: AttributeReference, ctx) if ord(a) >= 0 &&
          a.dataType.isInstanceOf[DecimalType] && ctx.evalMode != EvalMode.TRY =>
        // wide (19..38 digit) decimal input — the int128 lane
        scala.Right(SumDec128Spec(ord(a), a.dataType.asInstanceOf[DecimalType],
          s.dataType.asInstanceOf[DecimalType], ctx.evalMode == EvalMode.ANSI))
      case Sum(a: AttributeReference, ctx) if ord(a) >= 0 &&
          (a.dataType == ByteType || a.dataType == ShortType ||
            a.dataType == IntegerType || a.dataType == LongType) &&
          ctx.evalMode != EvalMode.TRY =>
        scala.Right(SumLongSpec(ord(a), a.dataType, ctx.evalMode == EvalMode.ANSI))
      case Sum(UnscaledValue(a: AttributeReference), ctx) if ord(a) >= 0 &&
          a.dataType.isInstanceOf[DecimalType] &&
          a.dataType.asInstanceOf[DecimalType].precision <= Decimal.MAX_LONG_DIGITS &&
          ctx.evalMode != EvalMode.TRY =>
        // the optimizer's DecimalAggregates shape: read the unscaled channel
        scala.Right(SumLongSpec(ord(a), a.dataType, ctx.evalMode == EvalMode.ANSI))
      case Min(a: AttributeReference) if ord(a) >= 0 &&
          a.dataType.isInstanceOf[DecimalType] &&
          a.dataType.asInstanceOf[DecimalType].precision <= Decimal.MAX_LONG_DIGITS =>
        scala.Right(MinMaxDec64Spec(ord(a), a.dataType.asInstanceOf[DecimalType], isMin = true))
      case Max(a: AttributeReference) if ord(a) >= 0 &&
          a.dataType.isInstanceOf[DecimalType] &&
          a.dataType.asInstanceOf[DecimalType].precision <= Decimal.MAX_LONG_DIGITS =>
        scala.Right(MinMaxDec64Spec(ord(a), a.dataType.asInstanceOf[DecimalType], isMin = false))
      case Min(a: AttributeReference) if ord(a) >= 0 &&
          a.dataType.isInstanceOf[DecimalType] =>
        scala.Right(MinMaxDec128Spec(ord(a), a.dataType.asInstanceOf[DecimalType],
          isMin = true))
      case Max(a: AttributeReference) if ord(a) >= 0 &&
          a.dataType.isInstanceOf[DecimalType] =>
        scala.Right(MinMaxDec128Spec(ord(a), a.dataType.asInstanceOf[DecimalType],
          isMin = false))
      case Min(a: AttributeReference) if ord(a) >= 0 && longFamily(a.dataType) =>
        scala.Right(MinMaxLongSpec(ord(a), a.dataType, isMin = true))
      case Max(a: AttributeReference) if ord(a) >= 0 && longFamily(a.dataType) =>
        scala.Right(MinMaxLongSpec(ord(a), a.dataType, isMin = false))
      case Min(a: AttributeReference) if ord(a) >= 0 &&
          (a.dataType == DoubleType || a.dataType == FloatType) =>
        scala.Right(MinMaxDoubleSpec(ord(a), a.dataType, isMin = true))
      case Max(a: AttributeReference) if ord(a) >= 0 &&
          (a.dataType == DoubleType || a.dataType == FloatType) =>
        scala.Right(MinMaxDoubleSpec(ord(a), a.dataType, isMin = false))
      case Min(a: AttributeReference) if ord(a) >= 0 && a.dataType == StringType =>
        scala.Right(MinMaxStringSpec(ord(a), isMin = true))
      case Max(a: AttributeReference) if ord(a) >= 0 && a.dataType == StringType =>
        scala.Right(MinMaxStringSpec(ord(a), isMin = false))
      case Average(a: AttributeReference, _) if ord(a) >= 0 && numeric(a.dataType) =>
        scala.Right(AvgSpec(ord(a), a.dataType))
      case Average(a: AttributeReference, em) if ord(a) >= 0 &&
          a.dataType.isInstanceOf[DecimalType] &&
          a.dataType.asInstanceOf[DecimalType].precision <= Decimal.MAX_LONG_DIGITS &&
          em != EvalMode.TRY =>
        // ANSI is safe to admit: the kernel nulls a partial sum that
        // overflows the bounded(p+10, s) buffer — the same clamp
        // UnsafeRow.setDecimal applies on the row partial — and the
        // FINAL stage is always the row Average (compileFinal never
        // emits this spec), whose DecimalDivideWithOverflowCheck
        // (verified in the 4.1.2 bytecode: eval throws when the sum is
        // null and nullOnOverflow=false) raises ARITHMETIC_OVERFLOW on
        // the merged null exactly as it would for a row-produced one.
        // Same emission-time-vs-per-write clamp nuance as SumDec64Spec:
        // a sum that transiently exceeds p+10 mid-partition and returns
        // in range emits the exact value where the row path would have
        // poisoned the buffer — exact-where-Spark-clamps, never the
        // reverse. TRY keeps the row path (its null contract is the
        // final's, not the buffer's).
        val in = a.dataType.asInstanceOf[DecimalType]
        // Average's decimal sum buffer type: bounded(p + 10, s)
        scala.Right(AvgDec64Spec(ord(a), in,
          DecimalType.bounded(in.precision + 10, in.scale)))
      case Average(a: AttributeReference, em) if ord(a) >= 0 &&
          a.dataType.isInstanceOf[DecimalType] && em != EvalMode.TRY =>
        // wide-decimal avg: int128 sum lane (same clamp contract as
        // AvgDec64Spec above; FINAL divide stays on the row Average)
        val in = a.dataType.asInstanceOf[DecimalType]
        scala.Right(AvgDec128Spec(ord(a), in,
          DecimalType.bounded(in.precision + 10, in.scale)))
      case f: CentralMomentAgg
          if (f.isInstanceOf[StddevPop] || f.isInstanceOf[StddevSamp] ||
            f.isInstanceOf[VariancePop] || f.isInstanceOf[VarianceSamp] ||
            f.isInstanceOf[Skewness] || f.isInstanceOf[Kurtosis]) &&
            f.child.isInstanceOf[AttributeReference] &&
            ord(f.child) >= 0 && f.child.dataType == DoubleType =>
        // analysis casts non-double inputs (Cast child → fallback);
        // the spec carries the function's momentOrder: m3/m4 lanes for
        // skewness/kurtosis so mixed q130-shaped aggregations swap whole
        val order = f match {
          case _: Kurtosis => 4
          case _: Skewness => 3
          case _ => 2
        }
        scala.Right(MomentsSpec(ord(f.child), order))
      case f: Covariance
          if (f.isInstanceOf[CovPopulation] || f.isInstanceOf[CovSample]) &&
            f.children.forall(c => c.isInstanceOf[AttributeReference] &&
              ord(c) >= 0 && c.dataType == DoubleType) =>
        scala.Right(CovSpec(ord(f.children(0)), ord(f.children(1))))
      case f: Corr
          if f.children.forall(c => c.isInstanceOf[AttributeReference] &&
            ord(c) >= 0 && c.dataType == DoubleType) =>
        scala.Right(CorrSpec(ord(f.children(0)), ord(f.children(1))))
      case f @ First(a: AttributeReference, _)
          if ord(a) >= 0 && firstLastType(a.dataType) =>
        scala.Right(FirstLastSpec(ord(a), a.dataType, isFirst = true, f.ignoreNulls))
      case f @ Last(a: AttributeReference, _)
          if ord(a) >= 0 && firstLastType(a.dataType) =>
        scala.Right(FirstLastSpec(ord(a), a.dataType, isFirst = false, f.ignoreNulls))
      case other =>
        scala.Left(s"unsupported aggregate: ${other.getClass.getSimpleName}" +
          s"(${other.children.map(_.getClass.getSimpleName).mkString(",")})")
    }
  }

  /** The finalized result type a spec emits in Final mode — must equal
    * the AggregateExpression's resultAttribute type or the swap is
    * unsound. */
  def finalType(s: AggSpec): DataType = s match {
    case CountSpec(_) => LongType
    case SumDoubleSpec(_, _) => DoubleType
    case MinMaxLongSpec(_, dt, _) => dt
    case MinMaxDoubleSpec(_, dt, _) => dt
    case MinMaxStringSpec(_, _) => StringType
    case AvgSpec(_, _) => DoubleType
    case SumDec64Spec(_, _, buf, _) => buf
    case SumDec128Spec(_, _, buf, _) => buf
    case MinMaxDec64Spec(_, dt, _) => dt
    case MinMaxDec128Spec(_, dt, _) => dt
    case SumLongSpec(_, _, _) => LongType
    case HllMergeSpec(_, _, _) => LongType
    case MomentsFinalSpec(_, _, _, _) | CovFinalSpec(_, _, _) | CorrFinalSpec(_, _, _) |
        RegrSlopeFinalSpec(_) | RegrInterceptFinalSpec(_) =>
      DoubleType
    // unreachable: compileFinal emits the *FinalSpec twins, never the
    // partial moment-family specs
    case MomentsSpec(_, _) | CovSpec(_, _) | CorrSpec(_, _) => DoubleType
    // unreachable: compileFinal never emits AvgDec64Spec/AvgDec128Spec
    // (the final divide's rounding/ANSI edges stay on the row path)
    case AvgDec64Spec(_, _, buf) => buf
    case AvgDec128Spec(_, _, buf) => buf
    // unreachable: compileFinal never emits FirstLastSpec
    case FirstLastSpec(_, dt, _, _) => dt
  }

  /** Compile one FINAL-mode AggregateExpression into a spec whose `col`
    * is the ordinal of the function's FIRST input buffer attribute in
    * the child (shuffle) output — merge semantics read the partial
    * buffers, not the original input. The function's own child
    * expressions are used only for their data types (they reference
    * pre-shuffle attributes that no longer exist here).
    */
  /** PartialMerge twin of [[compileFinal]]: identical buffer-merge
    * semantics (mergeExpressions are the same expressions in both
    * modes), but the emitting exec re-emits BUFFERS instead of
    * finalized values — so the moments/cov/corr specs (whose merge
    * STATE layout differs from the partial buffer layout) are excluded
    * by the planner gate, not here. */
  def compileMerge(ae: AggregateExpression, bufOrd: Attribute => Int): Either[String, AggSpec] = {
    if (ae.mode != PartialMerge) return scala.Left(s"mode ${ae.mode} is not PartialMerge")
    compileMergeLike(ae, bufOrd)
  }

  def compileFinal(ae: AggregateExpression, bufOrd: Attribute => Int): Either[String, AggSpec] = {
    if (ae.mode != Final) return scala.Left(s"mode ${ae.mode} is not Final")
    compileMergeLike(ae, bufOrd)
  }

  /** Whether a merge-mode spec's accumulator state can be re-emitted in
    * the PARTIAL buffer layout (the PartialMerge exec's output). True
    * for every spec whose merge state fields coincide with the partial
    * update state; the moments family merges into (n in dblAcc,
    * double[] lanes) while the partial layout writer expects (count in
    * longAcc, double[] lanes) — excluded. */
  def bufferReEmittable(s: AggSpec): Boolean = s match {
    case MomentsFinalSpec(_, _, _, _) | CovFinalSpec(_, _, _) |
         CorrFinalSpec(_, _, _) | RegrSlopeFinalSpec(_) |
         RegrInterceptFinalSpec(_) => false
    // HLL merge state IS the partial buffer layout (long[numWords]),
    // but the partial-layout writer has no multi-word re-emit lane —
    // PartialMerge nodes with HLL stay row (Final is the census gap)
    case HllMergeSpec(_, _, _) => false
    case _ => true
  }

  /** Merge-input specs the COLUMNAR mixed-mode partial can accumulate:
    * count/avg/decimal-sum/long-sum/double-sum have dedicated
    * buffer-reading variants; min/max merges are the same read-and-
    * combine as their updates. Everything else (moments family, whose
    * merge state differs from the partial layout) stays row. */
  def mixedMergeSupported(s: AggSpec): Boolean = s match {
    case CountSpec(c) => c >= 0
    case AvgSpec(_, _) | SumLongSpec(_, _, _) | SumDoubleSpec(_, _) => true
    case DecSumSpec(_, _, _) => true
    case MinMaxLongSpec(_, _, _) | MinMaxDoubleSpec(_, _, _) |
         MinMaxStringSpec(_, _) | MinMaxDec64Spec(_, _, _) |
         MinMaxDec128Spec(_, _, _) => true
    case _ => false
  }

  private def compileMergeLike(ae: AggregateExpression,
      bufOrd: Attribute => Int): Either[String, AggSpec] = {
    // isDistinct never reaches mergeExpressions — the final merge of a
    // distinct aggregate is the plain buffer merge (see the Partial-mode
    // note in compile), so distinct-marked finals ride the same specs.
    // a FILTER clause gates the UPDATE stage only — Spark's
    // mergeExpressions never reference it, so the final merge is
    // filter-agnostic and the clause is safely ignored here
    val bufs = ae.aggregateFunction.inputAggBufferAttributes.map(bufOrd)
    if (bufs.exists(_ < 0))
      return scala.Left("input buffer attributes not found in child output")
    val c = bufs.head
    ae.aggregateFunction match {
      case Count(_) => scala.Right(CountSpec(c))
      case Sum(e, _) if e.dataType == DoubleType || e.dataType == FloatType =>
        scala.Right(SumDoubleSpec(c, e.dataType))
      case s @ Sum(e, ctx) if e.dataType.isInstanceOf[DecimalType] &&
          e.dataType.asInstanceOf[DecimalType].precision <= Decimal.MAX_LONG_DIGITS &&
          ctx.evalMode != EvalMode.TRY && bufs == Seq(c, c + 1) =>
        scala.Right(SumDec64Spec(c, e.dataType.asInstanceOf[DecimalType],
          s.dataType.asInstanceOf[DecimalType], ctx.evalMode == EvalMode.ANSI))
      case s @ Sum(e, ctx) if e.dataType.isInstanceOf[DecimalType] &&
          ctx.evalMode != EvalMode.TRY && bufs == Seq(c, c + 1) =>
        // wide-decimal final: the merge reads the (sum, isEmpty) buffer
        // through the row getDecimal contract — width-agnostic
        scala.Right(SumDec128Spec(c, e.dataType.asInstanceOf[DecimalType],
          s.dataType.asInstanceOf[DecimalType], ctx.evalMode == EvalMode.ANSI))
      case Min(e) if e.dataType.isInstanceOf[DecimalType] &&
          e.dataType.asInstanceOf[DecimalType].precision <= Decimal.MAX_LONG_DIGITS =>
        scala.Right(MinMaxDec64Spec(c, e.dataType.asInstanceOf[DecimalType], isMin = true))
      case Max(e) if e.dataType.isInstanceOf[DecimalType] &&
          e.dataType.asInstanceOf[DecimalType].precision <= Decimal.MAX_LONG_DIGITS =>
        scala.Right(MinMaxDec64Spec(c, e.dataType.asInstanceOf[DecimalType], isMin = false))
      case Sum(e, ctx) if (e.dataType == ByteType || e.dataType == ShortType ||
          e.dataType == IntegerType || e.dataType == LongType) &&
          ctx.evalMode != EvalMode.TRY =>
        // integral sums AND the DecimalAggregates sum(UnscaledValue(..))
        // rewrite both merge a nullable LongType buffer
        scala.Right(SumLongSpec(c, LongType, ctx.evalMode == EvalMode.ANSI))
      case Min(e) if e.dataType.isInstanceOf[DecimalType] =>
        scala.Right(MinMaxDec128Spec(c, e.dataType.asInstanceOf[DecimalType], isMin = true))
      case Max(e) if e.dataType.isInstanceOf[DecimalType] =>
        scala.Right(MinMaxDec128Spec(c, e.dataType.asInstanceOf[DecimalType], isMin = false))
      case Min(e) if longFamily(e.dataType) =>
        scala.Right(MinMaxLongSpec(c, e.dataType, isMin = true))
      case Max(e) if longFamily(e.dataType) =>
        scala.Right(MinMaxLongSpec(c, e.dataType, isMin = false))
      case Min(e) if e.dataType == DoubleType || e.dataType == FloatType =>
        scala.Right(MinMaxDoubleSpec(c, e.dataType, isMin = true))
      case Max(e) if e.dataType == DoubleType || e.dataType == FloatType =>
        scala.Right(MinMaxDoubleSpec(c, e.dataType, isMin = false))
      case Min(e) if e.dataType == StringType =>
        scala.Right(MinMaxStringSpec(c, isMin = true))
      case Max(e) if e.dataType == StringType =>
        scala.Right(MinMaxStringSpec(c, isMin = false))
      case Average(e, _) if numeric(e.dataType) && bufs == Seq(c, c + 1) =>
        scala.Right(AvgSpec(c, e.dataType))
      case f: CentralMomentAgg
          if (f.isInstanceOf[StddevPop] || f.isInstanceOf[StddevSamp] ||
            f.isInstanceOf[VariancePop] || f.isInstanceOf[VarianceSamp] ||
            f.isInstanceOf[Skewness] || f.isInstanceOf[Kurtosis]) &&
            bufs == Seq.tabulate(bufs.length)(c + _) =>
        val order = f match {
          case _: Kurtosis => 4
          case _: Skewness => 3
          case _ => 2
        }
        val kind = f match {
          case _: StddevSamp => 0
          case _: StddevPop => 1
          case _: VarianceSamp => 2
          case _: VariancePop => 3
          case _: Skewness => 4
          case _ => 5
        }
        // nullOnDivideByZero is protected on the abstract class; every
        // concrete subtype exposes it as a case-class accessor
        val nod = f match {
          case x: StddevSamp => x.nullOnDivideByZero
          case x: StddevPop => x.nullOnDivideByZero
          case x: VarianceSamp => x.nullOnDivideByZero
          case x: VariancePop => x.nullOnDivideByZero
          case x: Skewness => x.nullOnDivideByZero
          case x: Kurtosis => x.nullOnDivideByZero
          case _ => true
        }
        scala.Right(MomentsFinalSpec(c, order, kind, nod))
      case f: Covariance
          if (f.isInstanceOf[CovPopulation] || f.isInstanceOf[CovSample]) &&
            bufs == Seq.tabulate(4)(c + _) =>
        val nod = f match {
          case x: CovSample => x.nullOnDivideByZero
          case x: CovPopulation => x.nullOnDivideByZero
          case _ => true
        }
        scala.Right(CovFinalSpec(c, f.isInstanceOf[CovSample], nod))
      case f: Corr if bufs == Seq.tabulate(6)(c + _) =>
        scala.Right(CorrFinalSpec(c, f.nullOnDivideByZero,
          org.apache.spark.sql.internal.SQLConf.get.ansiEnabled))
      case h: HyperLogLogPlusPlus
          if bufs == Seq.tabulate(bufs.length)(c + _) &&
            bufs.length == h.hllppHelper.numWords =>
        scala.Right(HllMergeSpec(c, h.hllppHelper.numWords, h.relativeSD))
      case _: org.apache.spark.sql.catalyst.expressions.aggregate.RegrSlope
          if bufs.length == 7 && bufs == Seq.tabulate(7)(c + _) =>
        scala.Right(RegrSlopeFinalSpec(c))
      case _: org.apache.spark.sql.catalyst.expressions.aggregate.RegrIntercept
          if bufs.length == 7 && bufs == Seq.tabulate(7)(c + _) =>
        scala.Right(RegrInterceptFinalSpec(c))
      case other =>
        scala.Left(s"unsupported final aggregate: ${other.getClass.getSimpleName}")
    }
  }
}
