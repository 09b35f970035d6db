// In the org.apache.spark.sql namespace alongside the other graft
// columnar operators — same placement the reference uses
// (org.apache.spark.sql.comet).
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** Vectorized double-valued expression kernels. eval fills
  * values/isNull for rows 0..n of the batch. The supported surface is
  * deliberately the double algebra: +, -, *, /, unary -, abs, literals,
  * double/float columns, and safe widening casts from the integral
  * family. Add/sub/mul over doubles are plain IEEE in every eval mode
  * (double overflow saturates to ±Infinity, even under ANSI); Divide is
  * NOT — see [[DivD]]. Integral add/sub/mul carry ANSI
  * overflow-exception semantics and decimal carries scale arithmetic —
  * both fall back, with the reason tagged on the node (reference gate
  * pattern: rules/CometExecRule.scala:258-393, e.g. its own eval-mode
  * fallbacks).
  */
sealed trait VecNumExpr extends Serializable {
  def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
      s: VecScratch): Unit
}

/** Per-partition temp-buffer pool: binary kernels draw their right-hand
  * scratch from here instead of allocating per batch. reset() per kernel
  * tree evaluation; buffers grow monotonically to the largest batch.
  */
final class VecScratch {
  private[this] var dPool = new Array[Array[Double]](4)
  private[this] var bPool = new Array[Array[Boolean]](4)
  private[this] var lPool = new Array[Array[Long]](4)
  private[this] var di = 0
  private[this] var bi = 0
  private[this] var li = 0
  /** Row-selection mask for LAZY conditional semantics: null = every
    * row is live. Set by CaseWhen kernels around branch evaluation;
    * consulted ONLY at the lanes' throw sites (ANSI divide/cast), which
    * emit null instead of raising for a masked-off row — the row path
    * never evaluates a CASE branch for a row whose condition is false,
    * so an eager columnar throw there would be spurious. Masked-off
    * rows still compute (harmless garbage the selecting CaseWhen
    * discards); leaf reads are real column data, and null/error rows
    * carry value 0, so no intermediate can overflow the bounded
    * decimal math on unselected rows. */
  var mask: Array[Boolean] = null
  def live(i: Int): Boolean = { val m = mask; m == null || m(i) }
  def reset(): Unit = { di = 0; bi = 0; li = 0; mask = null }
  def d(n: Int): Array[Double] = {
    if (di == dPool.length) dPool = java.util.Arrays.copyOf(dPool, di * 2)
    if (dPool(di) == null || dPool(di).length < n) dPool(di) = new Array[Double](n)
    val a = dPool(di); di += 1; a
  }
  def b(n: Int): Array[Boolean] = {
    if (bi == bPool.length) bPool = java.util.Arrays.copyOf(bPool, bi * 2)
    if (bPool(bi) == null || bPool(bi).length < n) bPool(bi) = new Array[Boolean](n)
    val a = bPool(bi); bi += 1; a
  }
  def l(n: Int): Array[Long] = {
    if (li == lPool.length) lPool = java.util.Arrays.copyOf(lPool, li * 2)
    if (lPool(li) == null || lPool(li).length < n) lPool(li) = new Array[Long](n)
    val a = lPool(li); li += 1; a
  }
}

object VecNumExpr {
  final val ADD = 0; final val SUB = 1; final val MUL = 2; final val DIV = 3

  /** Totality gate for full-batch consumption outside a lazy mask
    * (mirror of [[VecStrExpr.total]]/[[VecLongExpr.total]]): only
    * kernels with NO throw site on any input may feed [[DblToLongL]]
    * when it lands in a filter compare. ANSI divide throws on /0;
    * the decimal bridge inherits the decimal lane's ANSI sites —
    * both excluded. Everything else is pure IEEE. */
  def total(k: VecNumExpr): Boolean = k match {
    case ColD(_, _) | LitD(_) | NullD() => true
    case LongAsDoubleD(c) => VecLongExpr.total(c)
    case BinD(_, l, r) => total(l) && total(r)
    // an ANSI divide by a NON-ZERO LITERAL has no live throw site
    // (Spark's double DivModLike throws only on a zero divisor)
    case DivD(l, LitD(d), _) if d != 0d && !java.lang.Double.isNaN(d) => total(l)
    case DivD(l, r, ansi) => !ansi && total(l) && total(r)
    case NegD(c) => total(c)
    case AbsD(c) => total(c)
    case RoundD(c, _, _) => total(c)
    case MathD(_, c) => total(c)
    case BinMathD(_, l, r) => total(l) && total(r)
    case CaseWhenD(bs, e) => bs.forall(b => total(b._2)) && e.forall(total)
    case _ => false
  }

  /** any numeric-family column widened to double */
  final case class ColD(ord: Int, dt: DataType) extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      val v = b.column(ord)
      val get: Int => Double = dt match {
        case DoubleType => v.getDouble
        case FloatType => i => v.getFloat(i).toDouble
        case ByteType => i => v.getByte(i).toDouble
        case ShortType => i => v.getShort(i).toDouble
        case IntegerType => i => v.getInt(i).toDouble
        case LongType => i => v.getLong(i).toDouble
        case other => throw new IllegalStateException(s"not numeric: $other")
      }
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) { isNull(i) = true; values(i) = 0d }
        else { isNull(i) = false; values(i) = get(i) }
        i += 1
      }
    }
  }

  final case class LitD(v: Double) extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      java.util.Arrays.fill(values, 0, n, v)
      java.util.Arrays.fill(isNull, 0, n, false)
    }
  }

  final case class BinD(op: Int, l: VecNumExpr, r: VecNumExpr) extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      l.eval(b, n, values, isNull, s)
      val rv = s.d(n); val rn = s.b(n)
      r.eval(b, n, rv, rn, s)
      var i = 0
      op match {
        case ADD => while (i < n) { values(i) += rv(i); isNull(i) |= rn(i); i += 1 }
        case SUB => while (i < n) { values(i) -= rv(i); isNull(i) |= rn(i); i += 1 }
        case MUL => while (i < n) { values(i) *= rv(i); isNull(i) |= rn(i); i += 1 }
      }
    }
  }

  /** Spark's Divide is NOT plain IEEE even over doubles: divisor 0 is
    * NULL in LEGACY/TRY mode and an error in ANSI mode, and a NULL
    * NUMERATOR wins over the zero-divisor error (DivModLike.eval checks
    * input1 == null before the isZero throw). Replicated exactly.
    */
  final case class DivD(l: VecNumExpr, r: VecNumExpr, ansi: Boolean) extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      l.eval(b, n, values, isNull, s)
      val rv = s.d(n); val rn = s.b(n)
      r.eval(b, n, rv, rn, s)
      var i = 0
      while (i < n) {
        if (rn(i) || isNull(i)) { isNull(i) = true; values(i) = 0d }
        else if (rv(i) == 0d) {
          if (ansi && s.live(i))
            throw org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
          isNull(i) = true; values(i) = 0d
        } else values(i) /= rv(i)
        i += 1
      }
    }
  }

  final case class NegD(c: VecNumExpr) extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) { values(i) = -values(i); i += 1 }
    }
  }

  final case class AbsD(c: VecNumExpr) extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) { values(i) = math.abs(values(i)); i += 1 }
    }
  }

  /** Unary math over doubles. Each opcode mirrors the matching Catalyst
    * expression's CODEGEN string exactly (dumped from the 4.1.2
    * bytecode): java.lang.Math for the plain UnaryMathExpression family
    * (sqrt/cbrt/trig/hyperbolic/toDegrees/toRadians, cot = 1/tan),
    * StrictMath for exp/expm1 and the whole log family, and the special
    * asinh/acosh/atanh compositions. Log-family opcodes carry
    * UnaryLogExpression's asymptote guard (x <= yAsymptote -> NULL);
    * everything else is total IEEE. A/B sf0.1 interleaved min-of-9,
    * sum-absorbed over 600k rows: sqrt/pow/exp/log/sin/round each
    * 0.98-1.02x (parity); a synthetic 5-function-in-one-sum composite
    * measures 1.15x (five intermediate vectors vs one fused loop) —
    * realistic per-expression shapes are at parity and the project
    * shapes (q33/q34) measure 0.96-0.97x, so the lane defaults ON. */
  final case class MathD(op: Int, c: VecNumExpr) extends VecNumExpr {
    // resolve the function ONCE per (deserialized, single-threaded)
    // instance — the hot loop then makes a monomorphic call the JIT
    // inlines, instead of re-dispatching the opcode per row
    @transient private lazy val fn: java.util.function.DoubleUnaryOperator =
      MathD.fnOf(op)
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      val yA = MathD.asymptote(op)
      val guarded = !java.lang.Double.isNaN(yA)
      val f = fn
      var i = 0
      while (i < n) {
        if (!isNull(i)) {
          val x = values(i)
          if (guarded && x <= yA) { isNull(i) = true; values(i) = 0d }
          else values(i) = f.applyAsDouble(x)
        }
        i += 1
      }
    }
  }
  object MathD {
    final val SQRT = 0; final val CBRT = 1; final val SIN = 2; final val COS = 3
    final val TAN = 4; final val ASIN = 5; final val ACOS = 6; final val ATAN = 7
    final val SINH = 8; final val COSH = 9; final val TANH = 10; final val DEG = 11
    final val RAD = 12; final val COT = 13; final val EXP = 14; final val EXPM1 = 15
    final val ASINH = 16; final val ACOSH = 17; final val ATANH = 18
    final val LN = 19; final val LOG10 = 20; final val LOG1P = 21; final val LOG2 = 22
    def asymptote(op: Int): Double = op match {
      case LN | LOG10 | LOG2 => 0.0
      case LOG1P => -1.0
      case _ => Double.NaN
    }
    /** Catalyst class → opcode; -1 = not handled (e.g. Bin, Factorial —
      * non-double result types never reach here anyway). */
    def opOf(u: UnaryMathExpression): Int = u match {
      case _: Sqrt => SQRT
      case _: Cbrt => CBRT
      case _: Sin => SIN
      case _: Cos => COS
      case _: Tan => TAN
      case _: Asin => ASIN
      case _: Acos => ACOS
      case _: Atan => ATAN
      case _: Sinh => SINH
      case _: Cosh => COSH
      case _: Tanh => TANH
      case _: ToDegrees => DEG
      case _: ToRadians => RAD
      case _: Cot => COT
      case _: Exp => EXP
      case _: Expm1 => EXPM1
      case _: Asinh => ASINH
      case _: Acosh => ACOSH
      case _: Atanh => ATANH
      case _: Log => LN
      case _: Log10 => LOG10
      case _: Log1p => LOG1P
      case _: Log2 => LOG2
      case _ => -1
    }
    def fnOf(op: Int): java.util.function.DoubleUnaryOperator = op match {
      case SQRT => Math.sqrt(_)
      case CBRT => Math.cbrt(_)
      case SIN => Math.sin(_)
      case COS => Math.cos(_)
      case TAN => Math.tan(_)
      case ASIN => Math.asin(_)
      case ACOS => Math.acos(_)
      case ATAN => Math.atan(_)
      case SINH => Math.sinh(_)
      case COSH => Math.cosh(_)
      case TANH => Math.tanh(_)
      case DEG => Math.toDegrees(_)
      case RAD => Math.toRadians(_)
      case EXP => StrictMath.exp(_)
      case EXPM1 => StrictMath.expm1(_)
      case LN => StrictMath.log(_)
      case LOG10 => StrictMath.log10(_)
      case LOG1P => StrictMath.log1p(_)
      case other => ap(other, _)
    }
    def ap(op: Int, x: Double): Double = op match {
      case SQRT => Math.sqrt(x)
      case CBRT => Math.cbrt(x)
      case SIN => Math.sin(x)
      case COS => Math.cos(x)
      case TAN => Math.tan(x)
      case ASIN => Math.asin(x)
      case ACOS => Math.acos(x)
      case ATAN => Math.atan(x)
      case SINH => Math.sinh(x)
      case COSH => Math.cosh(x)
      case TANH => Math.tanh(x)
      case DEG => Math.toDegrees(x)
      case RAD => Math.toRadians(x)
      case COT => 1.0 / Math.tan(x)
      case EXP => StrictMath.exp(x)
      case EXPM1 => StrictMath.expm1(x)
      // Asinh's row path special-cases ONLY NegativeInfinity (x*x would
      // give -Inf + Inf = NaN); every finite x — including ±MaxValue —
      // runs the composition, whose x*x overflow to +Inf is part of the
      // contract (asinh(±MaxValue) = +Infinity on the row path).
      case ASINH =>
        if (java.lang.Double.isInfinite(x)) x
        else StrictMath.log(x + Math.sqrt(x * x + 1.0))
      // Acosh has no special case at all: x*x - 1 overflows to +Inf for
      // huge finite x and the row path yields +Infinity.
      case ACOSH =>
        if (x < 1) Double.NaN
        else StrictMath.log(x + Math.sqrt(x * x - 1.0))
      case ATANH => 0.5 * (StrictMath.log1p(x) - StrictMath.log1p(-x))
      case LN => StrictMath.log(x)
      case LOG10 => StrictMath.log10(x)
      case LOG1P => StrictMath.log1p(x)
      case _ => StrictMath.log(x) / StrictMath.log(2) // LOG2
    }
  }

  /** Binary math over doubles — pow/atan2/hypot (BinaryMathExpression
    * codegen: StrictMath.pow, Math.atan2 with +0.0 on BOTH args — the
    * -0.0 normalization Spark bakes in — Math.hypot), plus the two-arg
    * log (Logarithm: NULL when base <= 0 or x <= 0, else
    * StrictMath.log(x)/StrictMath.log(base)). */
  final case class BinMathD(op: Int, l: VecNumExpr, r: VecNumExpr) extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      l.eval(b, n, values, isNull, s)
      val rv = s.d(n); val rn = s.b(n)
      r.eval(b, n, rv, rn, s)
      var i = 0
      while (i < n) {
        if (isNull(i) || rn(i)) { isNull(i) = true; values(i) = 0d }
        else {
          val x = values(i); val y = rv(i)
          op match {
            case BinMathD.POW => values(i) = StrictMath.pow(x, y)
            case BinMathD.ATAN2 => values(i) = Math.atan2(x + 0.0, y + 0.0)
            case BinMathD.HYPOT => values(i) = Math.hypot(x, y)
            case _ => // LOGB: x = base, y = argument
              if (x <= 0.0 || y <= 0.0) { isNull(i) = true; values(i) = 0d }
              else values(i) = StrictMath.log(y) / StrictMath.log(x)
          }
        }
        i += 1
      }
    }
  }
  object BinMathD {
    final val POW = 0; final val ATAN2 = 1; final val HYPOT = 2; final val LOGB = 3
    def opOf(b: BinaryMathExpression): Int = b match {
      case _: Pow => POW
      case _: Atan2 => ATAN2
      case _: Hypot => HYPOT
      case _: Logarithm => LOGB
      case _ => -1
    }
  }

  /** round/bround over doubles — EXACTLY RoundBase's interpreted
    * semantics (verified against the 4.1.2 bytecode): NaN/Infinity pass
    * through, otherwise scala BigDecimal(d) (the decimal/toString
    * representation, not raw binary) setScale(HALF_UP|HALF_EVEN)
    * toDouble. Where VecDecExpr.halfUpScaled decides the rounded
    * integer k, the value is k / 10^scale by one IEEE division
    * (decToDouble, BigDecimal.doubleValue's own fast path for
    * |k| < 2^52); near-ties and negative scales take the BigDecimal
    * path. Masked-off rows are
    * SKIPPED (rounding is total; garbage values are discarded by the
    * selecting CaseWhen anyway). Census: 5 queries blocked on Round.
    * A/B sf0.1 interleaved min-of-7: 0.96-0.97x (q33/q34), 0.96
    * (q153), 1.02 (q53) — win-or-parity.
    */
  final case class RoundD(c: VecNumExpr, scale: Int, halfEven: Boolean) extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      val mode =
        if (halfEven) scala.math.BigDecimal.RoundingMode.HALF_EVEN
        else scala.math.BigDecimal.RoundingMode.HALF_UP
      var i = 0
      while (i < n) {
        val d = values(i)
        if (!isNull(i) && s.live(i) &&
            !java.lang.Double.isNaN(d) && !java.lang.Double.isInfinite(d)) {
          val k = VecDecExpr.halfUpScaled(d, scale)
          values(i) =
            if (k == k) VecDecExpr.decToDouble(k.toLong, scale)
            else scala.math.BigDecimal(d).setScale(scale, mode).toDouble
        }
        i += 1
      }
    }
  }

  /** Bridge: a LONG-lane kernel consumed as DOUBLE (Cast(intFamily
    * expression → double) where the subtree is more than a plain column
    * read — e.g. cast((n - df) as double) in the BM25 idf shape).
    * long→double is IEEE round-to-nearest in both engines and every
    * eval mode; the subtree's OWN throw semantics (ANSI arithmetic)
    * carry through unchanged, so this bridge is mask-UNSAFE when the
    * subtree can throw — see [[VecNumExpr.maskSafe]]. */
  final case class LongAsDoubleD(c: VecLongExpr) extends VecNumExpr {
    @transient private[this] var lv: Array[Long] = null
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      if (lv == null || lv.length < n) lv = new Array[Long](n)
      c.eval(b, n, lv, isNull)
      var i = 0
      while (i < n) { values(i) = if (isNull(i)) 0d else lv(i).toDouble; i += 1 }
    }
  }

  /** Bridge: a decimal kernel consumed as DOUBLE (Cast(dec → double)).
    * Mirrors OpenJDK BigDecimal.doubleValue(): one IEEE division when
    * unscaled and 10^scale are both exactly representable, else the
    * full BigDecimal conversion (rare at money scales).
    */
  final case class DecAsDoubleD(c: VecDecExpr, scale: Int) extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      val lv = s.l(n)
      c.eval(b, n, lv, isNull, s)
      var i = 0
      while (i < n) {
        if (!isNull(i)) values(i) = VecDecExpr.decToDouble(lv(i), scale) else values(i) = 0d
        i += 1
      }
    }
  }

  /** CASE WHEN / If over double branches, with the row path's LAZY
    * error semantics: conditions (VecPredicate — never throws) are
    * evaluated column-at-a-time; each branch value is evaluated over
    * the full batch but under a selection MASK ([[VecScratch.mask]] =
    * this branch's first-match rows ∧ the enclosing mask), so the
    * lanes' ANSI throw sites raise only for rows the row path would
    * actually have evaluated. Masked-off rows compute harmless values
    * that are never copied out. A NULL condition never matches; no
    * else and no match → NULL.
    */
  final case class CaseWhenD(branches: Seq[(VecPredicate, VecNumExpr)], els: Option[VecNumExpr])
      extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      val outer = s.mask
      java.util.Arrays.fill(values, 0, n, 0d)
      java.util.Arrays.fill(isNull, 0, n, true)
      val undecided = s.b(n)
      var i = 0
      while (i < n) { undecided(i) = outer == null || outer(i); i += 1 }
      branches.foreach { case (p, v) =>
        val pv = s.b(n); val pn = s.b(n)
        p.eval(b, null, n, pv, pn)
        val sel = s.b(n)
        var any = false
        i = 0
        while (i < n) {
          sel(i) = undecided(i) && pv(i) && !pn(i)
          if (sel(i)) { any = true; undecided(i) = false }
          i += 1
        }
        if (any) {
          val tv = s.d(n); val tn = s.b(n)
          s.mask = sel
          try v.eval(b, n, tv, tn, s) finally s.mask = outer
          i = 0
          while (i < n) {
            if (sel(i)) { values(i) = tv(i); isNull(i) = tn(i) }
            i += 1
          }
        }
      }
      els.foreach { e =>
        val tv = s.d(n); val tn = s.b(n)
        s.mask = undecided
        try e.eval(b, n, tv, tn, s) finally s.mask = outer
        i = 0
        while (i < n) {
          if (undecided(i)) { values(i) = tv(i); isNull(i) = tn(i) }
          i += 1
        }
      }
    }
  }

  /** NULL literal of the branch type — reachable only INSIDE a
    * conditional (`when(c, x)` with no otherwise resolves the else to
    * Literal(null); a bare null projection would be caught by the
    * optimizer first). */
  final case class NullD() extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      java.util.Arrays.fill(values, 0, n, 0d)
      java.util.Arrays.fill(isNull, 0, n, true)
    }
  }

  private val numeric: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  // ==================================================================
  // Array lanes: fixed-order double folds and element extraction over
  // array<numeric> columns — the embedding/ANN shapes
  // (aggregate/transform/zip_with compositions, element_at). Catalyst's
  // HigherOrderFunctions are CodegenFallback: every element pays a boxed
  // AtomicReference store plus an interpreted tree walk (the
  // "interpreted lambdas" cost SimilarityQueries.scala:24-35 measured at
  // 3-5x on pair folds). Here the lambda is compiled ONCE into a tiny
  // element program evaluated in a flat per-row loop over the columnar
  // array vectors — no boxing, no variable rebinding.
  //
  // Semantics replicated exactly from the 4.1.2 evals:
  //  - ArrayAggregate.eval: null argument → null; acc starts at the
  //    literal zero; merge runs IN INDEX ORDER per element, but the
  //    merge BODY Add(acc, g(x)) short-circuits like every
  //    BinaryExpression.eval: a null LEFT operand returns null without
  //    evaluating the right — so once acc goes null with acc on the
  //    left, g(x) is NOT evaluated for the remaining elements (its
  //    throw sites stop firing), while Add(g(x), acc) keeps evaluating
  //    g every element. Source chains (transform/zip bodies) are fully
  //    materialized BEFORE the fold, so their throw sites always fire
  //    for every element regardless of acc. Identity finish only.
  //  - ZipWith.eval: null on either array → null; result length is
  //    max(len), the SHORTER side's element is null PAST ITS END
  //    WITHOUT evaluating that side's transform chain (ESide guards).
  //  - ArrayTransform.eval: null argument → null; f applied per element.
  //  - Element programs propagate null like the scalar lanes: Divide
  //    keeps DivModLike's zero-divisor rules (null numerator wins, ANSI
  //    throws only for live rows).
  // ==================================================================

  /** Element program: evaluated per array element inside
    * [[ArrayFoldD]]/[[ElemAtD]]. EVar(k) reads array k's current
    * element (widened to double); EOuter(k) reads the k-th outer scalar
    * lane (a whole-batch [[VecNumExpr]] evaluated once per batch) at
    * the current row; ESide(k, e) is the zip padding guard — null past
    * array k's end, e otherwise. */
  sealed trait ElemD extends Serializable
  final case class EVarE(which: Int) extends ElemD
  final case class ELitE(v: Double) extends ElemD
  final case class ENullE() extends ElemD
  final case class EOuterE(lane: Int) extends ElemD
  final case class ESideE(which: Int, e: ElemD) extends ElemD
  final case class EBinE(op: Int, l: ElemD, r: ElemD) extends ElemD
  final case class EDivE(l: ElemD, r: ElemD, ansi: Boolean) extends ElemD
  final case class EMathE(op: Int, c: ElemD) extends ElemD

  /** Shared element-program evaluator state for one (row, element). */
  private[graft] final class ElemEval {
    // bound per row
    var arr0: org.apache.spark.sql.vectorized.ColumnarArray = null
    var arr1: org.apache.spark.sql.vectorized.ColumnarArray = null
    var len0: Int = 0
    var len1: Int = 0
    var elemT0: DataType = null
    var elemT1: DataType = null
    var outerVals: Array[Array[Double]] = null
    var outerNulls: Array[Array[Boolean]] = null
    var row: Int = 0
    var live: Boolean = true
    // per element
    var j: Int = 0
    var isNull: Boolean = false

    private def loadVar(which: Int): Double = {
      val (a, len, t) = if (which == 0) (arr0, len0, elemT0) else (arr1, len1, elemT1)
      if (j >= len || a.isNullAt(j)) { isNull = true; 0d }
      else t match {
        case DoubleType => a.getDouble(j)
        case FloatType => a.getFloat(j).toDouble
        case IntegerType => a.getInt(j).toDouble
        case LongType => a.getLong(j).toDouble
        case ShortType => a.getShort(j).toDouble
        case ByteType => a.getByte(j).toDouble
        case other => throw new IllegalStateException(s"not numeric: $other")
      }
    }

    /** Evaluate `e` for the bound (row, element); sets [[isNull]]. */
    def eval(e: ElemD): Double = e match {
      case EVarE(w) => loadVar(w)
      case ELitE(v) => v
      case ENullE() => isNull = true; 0d
      case EOuterE(k) =>
        if (outerNulls(k)(row)) { isNull = true; 0d } else outerVals(k)(row)
      case ESideE(w, inner) =>
        // zip padding: past this side's end the row path feeds NULL to
        // the zip lambda without evaluating this side's transform chain
        if (j >= (if (w == 0) len0 else len1)) { isNull = true; 0d }
        else eval(inner)
      case EBinE(op, l, r) =>
        // BinaryExpression.eval short-circuits on a null LEFT operand:
        // the right child (and any throw site inside it) is skipped
        val lv = eval(l)
        if (isNull) 0d
        else {
          val rv = eval(r)
          if (isNull) 0d
          else op match {
            case ADD => lv + rv
            case SUB => lv - rv
            case _ => lv * rv
          }
        }
      case EDivE(l, r, ansi) =>
        // DivModLike.eval order: RIGHT first; a null right or a
        // non-ANSI zero divisor returns null WITHOUT evaluating the
        // left (left-subtree throw sites skipped); the null numerator
        // still wins over the ANSI zero-divisor throw
        val rv = eval(r)
        if (isNull) 0d
        else if (!ansi && rv == 0d) { isNull = true; 0d }
        else {
          val lv = eval(l)
          if (isNull) 0d
          else if (rv == 0d) {
            if (live)
              throw org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
            isNull = true; 0d
          } else lv / rv
        }
      case EMathE(op, c) =>
        val v = eval(c)
        if (isNull) 0d
        else {
          val yA = MathD.asymptote(op)
          if (!java.lang.Double.isNaN(yA) && v <= yA) { isNull = true; 0d }
          else MathD.ap(op, v)
        }
    }
  }

  /** One array input of a fold/extract: the batch ordinal + element type. */
  final case class ArrRef(ord: Int, elemT: DataType)

  /** Does the element program contain a throw site? The only one the
    * compiler emits is the ANSI divide (double math asymptotes return
    * null, double arithmetic never overflows). */
  private def elemHasThrow(e: ElemD): Boolean = e match {
    case EDivE(l, r, ansi) => ansi || elemHasThrow(l) || elemHasThrow(r)
    case EBinE(_, l, r) => elemHasThrow(l) || elemHasThrow(r)
    case ESideE(_, i) => elemHasThrow(i)
    case EMathE(_, c) => elemHasThrow(c)
    case _ => false
  }

  /** Fixed-order fold: aggregate(src, zeroLit, (acc, x) -> acc + g(x))
    * with identity finish — evaluated per row as a sequential flat loop
    * over the element program (index order preserved: bit-identical to
    * the row path's left fold, the determinism contract the embedding
    * queries rely on). A/B (FilterMicroBench fold-*, sf0.1 amplified
    * embeddings ~51M elements, min-of-5, 3 session runs): sumsq
    * 0.64/1.00/0.93x, element_at 1.00/0.99x, the q71 composite
    * (folds + element_at + divide in one project) 0.98/0.93x, split
    * 0.97x — win-or-parity, default ON. The zip dot-product shape
    * measured 1.12x through THIS general evaluator and is routed to
    * [[DotFoldD]] instead (0.97/0.93x). */
  final case class ArrayFoldD(arrs: Array[ArrRef], contrib: ElemD, init: Double,
      outers: Array[VecNumExpr]) extends VecNumExpr {
    // once acc goes null the remaining elements matter only for their
    // throw sites; a throw-free program can stop the loop early (the
    // compiler rejects the one shape where the row path would SKIP
    // throws — ANSI-divide in the merge's g with acc on the left)
    private val canBreakOnNull = !elemHasThrow(contrib)
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      val ev = new ElemEval
      ev.outerVals = new Array[Array[Double]](outers.length)
      ev.outerNulls = new Array[Array[Boolean]](outers.length)
      var k = 0
      while (k < outers.length) {
        ev.outerVals(k) = s.d(n); ev.outerNulls(k) = s.b(n)
        outers(k).eval(b, n, ev.outerVals(k), ev.outerNulls(k), s)
        k += 1
      }
      val c0 = b.column(arrs(0).ord)
      val c1 = if (arrs.length > 1) b.column(arrs(1).ord) else null
      ev.elemT0 = arrs(0).elemT
      if (arrs.length > 1) ev.elemT1 = arrs(1).elemT
      var i = 0
      while (i < n) {
        // null on any input array → null result (ZipWith/ArrayAggregate)
        if (c0.isNullAt(i) || (c1 != null && c1.isNullAt(i))) {
          isNull(i) = true; values(i) = 0d
        } else {
          ev.arr0 = c0.getArray(i); ev.len0 = ev.arr0.numElements()
          if (c1 != null) { ev.arr1 = c1.getArray(i); ev.len1 = ev.arr1.numElements() }
          val total = if (c1 != null) Math.max(ev.len0, ev.len1) else ev.len0
          ev.row = i
          ev.live = s.live(i)
          var acc = init
          var accNull = false
          var j = 0
          while (j < total && !(accNull && canBreakOnNull)) {
            // throw-bearing programs keep evaluating every element
            // (source-chain throws fire during Spark's materialization
            // regardless of acc); throw-free programs stop once acc is
            // null — nothing left is observable
            ev.j = j
            ev.isNull = false
            val v = ev.eval(contrib)
            if (ev.isNull) accNull = true
            else if (!accNull) acc += v
            j += 1
          }
          values(i) = acc; isNull(i) = accNull
        }
        i += 1
      }
    }
  }

  /** Fused dot-product fold: aggregate(zip_with(A, B, (x,y) -> x*y),
    * 0.0, (acc,x) -> acc + x) specialized into one tight multiply-add
    * loop (no element-program recursion, no ESide guards on the hot
    * path). The general [[ArrayFoldD]] measured 1.12x on this shape —
    * the per-element recursive dispatch ate the materialization win —
    * while this fused twin inlines to scalar FMA-style code. Length
    * mismatch: the zip pads the shorter side with null, the product
    * goes null, the additive fold is then null for the whole row (no
    * throw sites exist in x*y), so the result is NULL — shortcut taken
    * without element evaluation, matching ZipWith+ArrayAggregate
    * exactly. */
  final case class DotFoldD(ordA: Int, tA: DataType, ordB: Int, tB: DataType,
      init: Double) extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      val ca = b.column(ordA)
      val cb = b.column(ordB)
      val aIsF = tA == FloatType
      val bIsF = tB == FloatType
      var i = 0
      while (i < n) {
        if (ca.isNullAt(i) || cb.isNullAt(i)) { isNull(i) = true; values(i) = 0d }
        else {
          val aa = ca.getArray(i)
          val ba = cb.getArray(i)
          val la = aa.numElements()
          if (la != ba.numElements()) { isNull(i) = true; values(i) = 0d }
          else {
            var acc = init
            var nul = false
            var j = 0
            while (j < la) {
              if (aa.isNullAt(j) || ba.isNullAt(j)) nul = true
              else {
                val x = if (aIsF) aa.getFloat(j).toDouble else aa.getDouble(j)
                val y = if (bIsF) ba.getFloat(j).toDouble else ba.getDouble(j)
                acc += x * y
              }
              j += 1
            }
            values(i) = acc; isNull(i) = nul
          }
        }
        i += 1
      }
    }
  }

  /** element_at(src, positiveLiteral) as a double lane. Replicates
    * ElementAt.nullSafeEval for arrays: 1-based; index past the end is
    * NULL in LEGACY/TRY and the exact invalidElementAtIndexError under
    * ANSI (masked rows emit null like every kernel throw site). */
  final case class ElemAtD(arrs: Array[ArrRef], contrib: ElemD, idx: Int,
      failOnError: Boolean, ctx: org.apache.spark.QueryContext) extends VecNumExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Double], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      val ev = new ElemEval
      ev.outerVals = new Array[Array[Double]](0)
      ev.outerNulls = new Array[Array[Boolean]](0)
      val c0 = b.column(arrs(0).ord)
      ev.elemT0 = arrs(0).elemT
      var i = 0
      while (i < n) {
        if (c0.isNullAt(i)) { isNull(i) = true; values(i) = 0d }
        else {
          ev.arr0 = c0.getArray(i); ev.len0 = ev.arr0.numElements()
          if (idx > ev.len0) {
            if (failOnError && s.live(i))
              throw org.apache.spark.sql.errors.QueryExecutionErrors
                .invalidElementAtIndexError(idx, ev.len0, ctx)
            isNull(i) = true; values(i) = 0d
          } else {
            ev.row = i; ev.live = s.live(i); ev.j = idx - 1; ev.isNull = false
            val v = ev.eval(contrib)
            values(i) = v; isNull(i) = ev.isNull
          }
        }
        i += 1
      }
    }
  }

  /** Compile the ARRAY SOURCE of a fold/extract: a plain array<numeric>
    * attribute, an ArrayTransform over one, or a ZipWith of two — into
    * (array refs, element program producing one element's value). */
  private def compileArraySource(e: Expression, output: Seq[Attribute],
      outers: scala.collection.mutable.ArrayBuffer[VecNumExpr])
      : Either[String, (Seq[ArrRef], ElemD)] = {
    def ord(a: AttributeReference): Int = output.indexWhere(_.exprId == a.exprId)
    e match {
      case a: AttributeReference if ord(a) >= 0 =>
        a.dataType match {
          case ArrayType(et, _) if numeric(et) =>
            scala.Right((Seq(ArrRef(ord(a), et)), EVarE(0)))
          case other => scala.Left(s"unsupported fold source type $other")
        }
      case t: org.apache.spark.sql.catalyst.expressions.ArrayTransform =>
        t.function match {
          case LambdaFunction(body, Seq(x: NamedLambdaVariable), _) =>
            compileArraySource(t.argument, output, outers).flatMap { case (arrs, inner) =>
              compileElem(body, Map(x.exprId -> inner), output, outers)
                .map(fn => (arrs, fn))
            }
          case _ => scala.Left("indexed transform lambda (x, i) stays on the row path")
        }
      case z: org.apache.spark.sql.catalyst.expressions.ZipWith =>
        z.function match {
          case LambdaFunction(body, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
            for {
              l <- compileArraySource(z.left, output, outers)
              _ <- if (l._1.size == 1) scala.Right(())
                else scala.Left("nested zip on the left side")
              r <- compileArraySource(z.right, output, outers)
              _ <- if (r._1.size == 1) scala.Right(())
                else scala.Left("nested zip on the right side")
              // ESide guards: past a side's end the zip feeds null
              // WITHOUT evaluating that side's transform chain
              fn <- compileElem(body,
                Map(x.exprId -> ESideE(0, l._2),
                  y.exprId -> ESideE(1, remapVar(r._2))),
                output, outers)
            } yield (Seq(l._1.head, ArrRef(r._1.head.ord, r._1.head.elemT)), fn)
          case _ => scala.Left("unsupported zip lambda shape")
        }
      case other =>
        scala.Left(s"unsupported fold source: ${other.getClass.getSimpleName}")
    }
  }

  /** The right zip side compiled with EVarE(0) leaves — remap to array 1. */
  private def remapVar(e: ElemD): ElemD = e match {
    case EVarE(_) => EVarE(1)
    case ESideE(w, i) => ESideE(w, remapVar(i))
    case EBinE(op, l, r) => EBinE(op, remapVar(l), remapVar(r))
    case EDivE(l, r, a) => EDivE(remapVar(l), remapVar(r), a)
    case EMathE(op, c) => EMathE(op, remapVar(c))
    case leaf => leaf
  }

  /** Compile a lambda BODY into an element program: bound lambda vars
    * from `binds`, double arithmetic on elements, and any lambda-free
    * subtree as an outer whole-batch lane. */
  private def compileElem(e: Expression, binds: Map[ExprId, ElemD],
      output: Seq[Attribute],
      outers: scala.collection.mutable.ArrayBuffer[VecNumExpr])
      : Either[String, ElemD] = {
    def hasLambdaVar(ex: Expression): Boolean = ex.exists {
      case v: NamedLambdaVariable => binds.contains(v.exprId)
      case _ => false
    }
    e match {
      case v: NamedLambdaVariable =>
        binds.get(v.exprId).toRight(s"unbound lambda variable ${v.name}")
      case Literal(null, dt) if numeric(dt) => scala.Right(ENullE())
      case Literal(v, dt) if numeric(dt) =>
        scala.Right(ELitE(v match {
          case b: Byte => b.toDouble; case s: Short => s.toDouble
          case i: Int => i.toDouble; case l: Long => l.toDouble
          case f: Float => f.toDouble; case d: Double => d
        }))
      case c: Cast if (c.dataType == DoubleType || c.dataType == FloatType) &&
          numeric(c.child.dataType) && hasLambdaVar(c) =>
        // widening numeric casts on the element are exact (the EVarE
        // load already widens float→double the way Cast does);
        // float→double of a float element is the identity on the
        // widened value
        compileElem(c.child, binds, output, outers)
      case a: Add if a.dataType == DoubleType && hasLambdaVar(a) =>
        for {
          l <- compileElem(a.left, binds, output, outers)
          r <- compileElem(a.right, binds, output, outers)
        } yield EBinE(ADD, l, r)
      case sub: Subtract if sub.dataType == DoubleType && hasLambdaVar(sub) =>
        for {
          l <- compileElem(sub.left, binds, output, outers)
          r <- compileElem(sub.right, binds, output, outers)
        } yield EBinE(SUB, l, r)
      case m: Multiply if (m.dataType == DoubleType || m.dataType == FloatType) &&
          hasLambdaVar(m) =>
        // float multiply of two float elements differs from double
        // multiply of the widened values — only DOUBLE products compile
        if (m.dataType == FloatType) scala.Left("float-typed element product " +
          "(single-precision rounding differs from the double lane)")
        else for {
          l <- compileElem(m.left, binds, output, outers)
          r <- compileElem(m.right, binds, output, outers)
        } yield EBinE(MUL, l, r)
      case d: Divide if d.dataType == DoubleType && hasLambdaVar(d) =>
        for {
          l <- compileElem(d.left, binds, output, outers)
          r <- compileElem(d.right, binds, output, outers)
        } yield EDivE(l, r, d.evalMode == EvalMode.ANSI)
      case u: UnaryMathExpression if u.dataType == DoubleType &&
          MathD.opOf(u) >= 0 && hasLambdaVar(u) =>
        compileElem(u.child, binds, output, outers).map(EMathE(MathD.opOf(u), _))
      case other if !hasLambdaVar(other) && numeric(other.dataType) =>
        // lambda-free subtree: a per-row scalar — compile it as a
        // whole-batch outer lane evaluated once per batch
        compile(other, output).map { k =>
          outers += k
          EOuterE(outers.size - 1)
        }
      case other =>
        scala.Left(s"unsupported element expression: ${other.getClass.getSimpleName}")
    }
  }

  /** aggregate(arr, zero, (acc, x) -> acc + g(x)) with identity finish. */
  def compileFold(agg: org.apache.spark.sql.catalyst.expressions.ArrayAggregate,
      output: Seq[Attribute]): Either[String, VecNumExpr] = {
    val outers = scala.collection.mutable.ArrayBuffer.empty[VecNumExpr]
    for {
      init <- agg.zero match {
        case Literal(d: Double, DoubleType) => scala.Right(d)
        case other => scala.Left(s"non-literal-double fold zero: $other")
      }
      _ <- agg.finish match {
        case LambdaFunction(v: NamedLambdaVariable, args, _)
            if args.size == 1 && args.head.exprId == v.exprId => scala.Right(())
        case _ => scala.Left("non-identity fold finish stays on the row path")
      }
      src <- compileArraySource(agg.argument, output, outers)
      merged <- agg.merge match {
        case LambdaFunction(body, Seq(acc: NamedLambdaVariable, x: NamedLambdaVariable), _) =>
          body match {
            case a: Add if a.dataType == DoubleType =>
              // (g, accOnLeft): Add(acc, g) short-circuits g once acc
              // is null; Add(g, acc) evaluates g every element
              val gOpt = (a.left, a.right) match {
                case (l: NamedLambdaVariable, r) if l.exprId == acc.exprId => Some((r, true))
                case (l, r: NamedLambdaVariable) if r.exprId == acc.exprId => Some((l, false))
                case _ => None
              }
              gOpt match {
                case Some((g, accOnLeft)) if !g.exists {
                    case v: NamedLambdaVariable => v.exprId == acc.exprId
                    case _ => false
                  } =>
                  val gAnsiThrows = g.exists {
                    case d: Divide => d.evalMode == EvalMode.ANSI
                    case _ => false
                  }
                  // Add(acc, g) stops evaluating g once acc is null —
                  // the kernel loop can't replicate "source throws keep
                  // firing but g's don't", so that one shape stays row
                  if (gAnsiThrows && accOnLeft)
                    scala.Left("ANSI-divide merge with acc on the left stays on the row path")
                  else compileElem(g, Map(x.exprId -> src._2), output, outers)
                case _ => scala.Left("fold merge is not acc + f(x)")
              }
            case _ => scala.Left("non-additive fold merge stays on the row path")
          }
        case _ => scala.Left("unsupported fold merge lambda shape")
      }
    } yield {
      // DotFoldD's loop loads via getDouble/getFloat ONLY — compileElem
      // elides widening casts to bare EVarE leaves, so an int/long
      // element type can reach this pattern and must fall back to
      // ArrayFoldD (whose ElemEval.loadVar dispatches by element type)
      def fp(t: DataType): Boolean = t == DoubleType || t == FloatType
      (merged, src._1, outers.toList) match {
        // the dot-product shape fuses into the specialized multiply-add
        // loop (see DotFoldD's scaladoc for the measured reason)
        case (EBinE(MUL, ESideE(0, EVarE(0)), ESideE(1, EVarE(1))), Seq(a, b2), Nil)
            if fp(a.elemT) && fp(b2.elemT) =>
          DotFoldD(a.ord, a.elemT, b2.ord, b2.elemT, init)
        case (EBinE(MUL, ESideE(1, EVarE(1)), ESideE(0, EVarE(0))), Seq(a, b2), Nil)
            if fp(a.elemT) && fp(b2.elemT) =>
          DotFoldD(b2.ord, b2.elemT, a.ord, a.elemT, init)
        case _ => ArrayFoldD(src._1.toArray, merged, init, outers.toArray)
      }
    }
  }

  /** element_at(arraySource, positive int literal) as a double lane. */
  def compileElementAt(ea: org.apache.spark.sql.catalyst.expressions.ElementAt,
      output: Seq[Attribute]): Either[String, VecNumExpr] = {
    val outers = scala.collection.mutable.ArrayBuffer.empty[VecNumExpr]
    ea.left.dataType match {
      case ArrayType(_, _) =>
        for {
          idx <- ea.right match {
            case Literal(i: Int, IntegerType) if i > 0 => scala.Right(i)
            case other => scala.Left(s"non-positive-literal element_at index: $other")
          }
          _ <- if (ea.defaultValueOutOfBound.isEmpty) scala.Right(())
            else scala.Left("element_at with a default stays on the row path")
          src <- compileArraySource(ea.left, output, outers)
          _ <- if (src._1.size == 1 && outers.isEmpty) scala.Right(())
            else scala.Left("zip/outer-lane element_at stays on the row path")
          // ElementAt materializes the transformed array FULLY before
          // extracting — an ANSI divide at any OTHER index throws on
          // the row path; the extract-only kernel would miss it
          _ <- if (!elemHasThrow(src._2)) scala.Right(())
            else scala.Left("throw-bearing transform chain under element_at stays on the row path")
        } yield ElemAtD(src._1.toArray, src._2, idx, ea.failOnError,
          ea.getContextOrNull())
      case other => scala.Left(s"element_at over $other stays on the row path")
    }
  }

  /** Compile a Catalyst expression to a double kernel, or the fallback
    * reason. Only shapes whose Spark result type is DOUBLE and whose
    * semantics are pure IEEE arithmetic compile; everything else (ANSI
    * integral overflow, decimal scale math, ANSI integral/decimal
    * division errors, TRY eval modes) names itself as the reason.
    */
  def compile(e: Expression, output: Seq[Attribute]): Either[String, VecNumExpr] = {
    def ord(a: AttributeReference): Int = output.indexWhere(_.exprId == a.exprId)
    e match {
      case a: AttributeReference if numeric(a.dataType) && ord(a) >= 0 =>
        scala.Right(ColD(ord(a), a.dataType))
      case Literal(v, dt) if numeric(dt) && v != null =>
        scala.Right(LitD(v match {
          case b: Byte => b.toDouble; case s: Short => s.toDouble
          case i: Int => i.toDouble; case l: Long => l.toDouble
          case f: Float => f.toDouble; case d: Double => d
        }))
      case c: Cast if c.dataType == DoubleType && numeric(c.child.dataType) =>
        // widening numeric→double cast never errors in any eval mode.
        // When the child is a long-lane EXPRESSION the double lane can't
        // express (integral subtract/remainder/size), bridge it.
        compile(c.child, output).orElse(
          VecLongExpr.compile(c.child, output).map(LongAsDoubleD))
      case c: Cast if c.dataType == DoubleType &&
          c.child.dataType.isInstanceOf[DecimalType] &&
          c.child.dataType.asInstanceOf[DecimalType].precision <= Decimal.MAX_LONG_DIGITS =>
        // decimal→double never errors (approximation, not overflow)
        VecDecExpr.compile(c.child, output)
          .map(DecAsDoubleD(_, c.child.dataType.asInstanceOf[DecimalType].scale))
      case a: Add if a.dataType == DoubleType =>
        for { l <- compile(a.left, output); r <- compile(a.right, output) } yield BinD(ADD, l, r)
      case s: Subtract if s.dataType == DoubleType =>
        for { l <- compile(s.left, output); r <- compile(s.right, output) } yield BinD(SUB, l, r)
      case m: Multiply if m.dataType == DoubleType =>
        for { l <- compile(m.left, output); r <- compile(m.right, output) } yield BinD(MUL, l, r)
      case d: Divide if d.dataType == DoubleType =>
        for { l <- compile(d.left, output); r <- compile(d.right, output) }
          yield DivD(l, r, d.evalMode == EvalMode.ANSI)
      case u: UnaryMinus if u.dataType == DoubleType =>
        compile(u.child, output).map(NegD)
      case ab: Abs if ab.dataType == DoubleType =>
        compile(ab.child, output).map(AbsD)
      case iff: If if iff.dataType == DoubleType =>
        compileCond(Seq((iff.predicate, iff.trueValue)), Some(iff.falseValue), output)
      case cw: CaseWhen if cw.dataType == DoubleType =>
        compileCond(cw.branches, cw.elseValue, output)
      case u: UnaryMathExpression if u.dataType == DoubleType &&
          MathD.opOf(u) >= 0 =>
        compile(u.child, output).map(MathD(MathD.opOf(u), _))
      case bm: BinaryMathExpression if bm.dataType == DoubleType &&
          BinMathD.opOf(bm) >= 0 =>
        for { l <- compile(bm.left, output); r <- compile(bm.right, output) }
          yield BinMathD(BinMathD.opOf(bm), l, r)
      case r: Round if r.dataType == DoubleType =>
        r.scale match {
          case Literal(sc: Int, IntegerType) =>
            compile(r.child, output).map(RoundD(_, sc, halfEven = false))
          case other => scala.Left(s"non-literal round scale: $other")
        }
      case r: BRound if r.dataType == DoubleType =>
        r.scale match {
          case Literal(sc: Int, IntegerType) =>
            compile(r.child, output).map(RoundD(_, sc, halfEven = true))
          case other => scala.Left(s"non-literal bround scale: $other")
        }
      case Literal(null, DoubleType) => scala.Right(NullD())
      case agg: ArrayAggregate if agg.dataType == DoubleType =>
        compileFold(agg, output)
      case ea: ElementAt if ea.dataType == DoubleType &&
          ea.left.dataType.isInstanceOf[ArrayType] =>
        compileElementAt(ea, output)
      case other if other.dataType != DoubleType =>
        scala.Left(s"non-double result type ${other.dataType} " +
          "(ANSI integral overflow / decimal scale semantics stay on the row path)")
      case other =>
        scala.Left(s"unsupported projection expression: ${other.getClass.getSimpleName}")
    }
  }

  /** Shared If/CaseWhen compile: conditions onto the filter runtime's
    * [[VecPredicate]] kernels (which never throw), branch values onto
    * this lane — masked evaluation gives them the row path's lazy ANSI
    * error semantics, so throwing shapes are admissible. */
  private def compileCond(branches: Seq[(Expression, Expression)], els: Option[Expression],
      output: Seq[Attribute]): Either[String, VecNumExpr] = {
    val bs = branches.foldRight(
      scala.Right(Nil): Either[String, List[(VecPredicate, VecNumExpr)]]) { (be, acc) =>
      for {
        t <- acc
        p <- VecPredicate.compile(be._1, output)
        v <- compile(be._2, output)
      } yield (p, v) :: t
    }
    val ev = els match {
      case None => scala.Right(None)
      case Some(e) => compile(e, output).map(Some(_))
    }
    for {
      b <- bs; e <- ev
      // branch kernels run under the LAZY selection mask: native double
      // kernels honor it at their throw sites, but a long-lane bridge
      // wrapping a THROWING long kernel (ANSI arithmetic) evaluates its
      // subtree full-batch and would fault on masked-off rows
      _ <- if (b.forall(x => maskSafe(x._2)) && e.forall(maskSafe)) scala.Right(())
      else scala.Left("mask-unsafe kernel under lazy CASE branch evaluation")
    } yield CaseWhenD(b, e)
  }

  /** Safe to evaluate under CaseWhenD's lazy selection mask: every
    * potential throw site either honors the mask (native double lane)
    * or cannot throw at all. The long-lane bridge is the exception —
    * its subtree has no mask channel, so it is mask-safe only when the
    * subtree is total. */
  def maskSafe(k: VecNumExpr): Boolean = k match {
    case LongAsDoubleD(c) => VecLongExpr.total(c)
    case BinD(_, l, r) => maskSafe(l) && maskSafe(r)
    case DivD(l, r, _) => maskSafe(l) && maskSafe(r)
    case NegD(c) => maskSafe(c)
    case AbsD(c) => maskSafe(c)
    case RoundD(c, _, _) => maskSafe(c)
    case MathD(_, c) => maskSafe(c)
    case BinMathD(_, l, r) => maskSafe(l) && maskSafe(r)
    case CaseWhenD(bs, e) => bs.forall(x => maskSafe(x._2)) && e.forall(maskSafe)
    case _ => true // leaves and the decimal bridge honor the mask natively
  }
}

/** Vectorized Decimal64 expression kernels: values are UNSCALED longs
  * at each node's STATIC scale. Only trees where every node's type has
  * precision ≤ 18 compile; within that bound Spark's decimal type
  * promotion guarantees +, −, ×, unary −, abs are exactly representable
  * (no overflow is reachable), so all arithmetic is plain long math and
  * the only rounding/overflow sites are the casts, which carry Spark's
  * LEGACY/ANSI/TRY semantics per row. This is the shape the reference
  * spends its checked-decimal kernels on
  * (native/spark-expr math_funcs/checked_arithmetic.rs, sum_decimal.rs)
  * — money expressions like TPC-H Q1's are exactly this.
  */
sealed trait VecDecExpr extends Serializable {
  def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
      s: VecScratch): Unit
}

object VecDecExpr {
  private val POW10: Array[Long] = {
    val a = new Array[Long](19); a(0) = 1L
    var i = 1; while (i < 19) { a(i) = a(i - 1) * 10L; i += 1 }; a
  }
  // 10^k exactly representable as double for k ≤ 22 (OpenJDK's
  // BigDecimal.doubleValue fast-path table)
  private val POW10D: Array[Double] = Array.tabulate(23)(k => math.pow(10d, k.toDouble))

  /** `x` rounded HALF_UP at `scale` decimal places, as the unscaled
    * integer `Decimal(x)` (the decimal string of x) rounds to, or NaN
    * when plain arithmetic cannot decide it. The decimal string D
    * round-trips to x, so |D − x| ≤ ½ulp(x); y = fl(x·10^scale) adds at
    * most ½ulp(y). When |y| < 2^52 and y lies farther than twice that
    * sum from every k + ½, D·10^scale and y round to the same integer
    * and neither is a tie, so rint(y) is the answer for HALF_UP and
    * HALF_EVEN alike. Ties (0.125 at 2 places), near-ties (1.005,
    * 2.675), huge, non-finite and negative-scale inputs return NaN and
    * take the BigDecimal path. Zero comes back as +0.0, like a
    * BigDecimal zero. */
  def halfUpScaled(x: Double, scale: Int): Double =
    if (scale < 0 || scale >= POW10D.length) Double.NaN
    else {
      val y = x * POW10D(scale)
      val a = math.abs(y)
      if (!(a < 4503599627370496.0)) Double.NaN // 2^52; also NaN and ±Inf
      else {
        val err = math.ulp(x) * POW10D(scale) + math.ulp(y)
        if (math.abs(a - math.floor(a) - 0.5) <= err) Double.NaN
        else math.rint(y) + 0.0
      }
    }

  /** |k| fits `precision` digits (k integral, |k| < 2^52 < 10^16). */
  def fitsDigits(k: Double, precision: Int): Boolean =
    precision > 15 || math.abs(k) < POW10D(precision)

  /** unscaled long at `scale` → double, replicating
    * java.math.BigDecimal.doubleValue() (fast path: one correctly
    * rounded IEEE division when |u| < 2^52 and scale ≤ 22). */
  def decToDouble(u: Long, scale: Int): Double =
    if (scale == 0) u.toDouble
    else if (math.abs(u) < (1L << 52) && scale <= 22) u.toDouble / POW10D(scale)
    else new java.math.BigDecimal(java.math.BigInteger.valueOf(u), scale).doubleValue()

  /** decimal column read through the documented unscaled channel —
    * precision ≤ 9 vectors store ints, 10..18 store longs (the
    * ColumnVector base class's own getDecimal dispatch).
    */
  final case class ColDec(ord: Int, prec: Int) extends VecDecExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      val v = b.column(ord)
      val useInt = prec <= Decimal.MAX_INT_DIGITS
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) { isNull(i) = true; values(i) = 0L }
        else { isNull(i) = false; values(i) = if (useInt) v.getInt(i).toLong else v.getLong(i) }
        i += 1
      }
    }
  }

  final case class LitDec(u: Long) extends VecDecExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      java.util.Arrays.fill(values, 0, n, u)
      java.util.Arrays.fill(isNull, 0, n, false)
    }
  }

  /** add/subtract: operands pre-rescaled to the result scale by the
    * compiled factors (rf carries the subtraction sign). Result
    * precision ≤ 18 bounds every intermediate below 10^17, so the long
    * math cannot overflow. */
  final case class AddDec(l: VecDecExpr, r: VecDecExpr, lf: Long, rf: Long) extends VecDecExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      l.eval(b, n, values, isNull, s)
      val rv = s.l(n); val rn = s.b(n)
      r.eval(b, n, rv, rn, s)
      var i = 0
      while (i < n) {
        isNull(i) = isNull(i) || rn(i)
        values(i) = values(i) * lf + rv(i) * rf
        i += 1
      }
    }
  }

  /** multiply: unscaled product IS the result at scale s1+s2; result
    * precision ≤ 18 ⇒ p1+p2 ≤ 17 ⇒ |u1·u2| < 10^17, no overflow. */
  final case class MulDec(l: VecDecExpr, r: VecDecExpr) extends VecDecExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      l.eval(b, n, values, isNull, s)
      val rv = s.l(n); val rn = s.b(n)
      r.eval(b, n, rv, rn, s)
      var i = 0
      while (i < n) {
        isNull(i) = isNull(i) || rn(i)
        values(i) = values(i) * rv(i)
        i += 1
      }
    }
  }

  final case class NegDec(c: VecDecExpr) extends VecDecExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) { values(i) = -values(i); i += 1 }
    }
  }

  final case class AbsDec(c: VecDecExpr) extends VecDecExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) { values(i) = math.abs(values(i)); i += 1 }
    }
  }

  /** Cast(double → decimal(p,s)): the rounding/overflow site. NaN/±Inf
    * → null in every eval mode; finite overflow → null (LEGACY/TRY) or
    * Spark's NUMERIC_VALUE_OUT_OF_RANGE (ANSI). Rounds with plain
    * arithmetic where that provably agrees (VecDecExpr.halfUpScaled) and
    * delegates the rest (near-ties, overflow) to Spark's own Decimal, so
    * the string-based double→BigDecimal semantics match bit-for-bit. */
  final case class DoubleToDec(c: VecNumExpr, p: Int, sc: Int, ansi: Boolean) extends VecDecExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      val dv = s.d(n)
      c.eval(b, n, dv, isNull, s)
      var i = 0
      while (i < n) {
        if (!isNull(i)) {
          val x = dv(i)
          if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) {
            isNull(i) = true; values(i) = 0L
          } else {
            val k = VecDecExpr.halfUpScaled(x, sc)
            val dec = if (k == k && VecDecExpr.fitsDigits(k, p)) null else Decimal(x)
            if (dec == null) values(i) = k.toLong
            else if (dec.changePrecision(p, sc)) values(i) = dec.toUnscaledLong
            else if (ansi && s.live(i)) {
              throw org.apache.spark.sql.errors.QueryExecutionErrors
                .cannotChangeDecimalPrecisionError(Decimal(x), p, sc, null)
            } else { isNull(i) = true; values(i) = 0L }
          }
        } else values(i) = 0L
        i += 1
      }
    }
  }

  /** Cast(decimal(p1,s1) → decimal(p2,s2)): rescale in long math with
    * HALF_UP (ties away from zero) on downscale and a digit-bound
    * overflow check — the same arithmetic Spark's
    * Decimal.changePrecision performs on its compact long form. */
  final case class DecToDec(c: VecDecExpr, fromScale: Int, p: Int, sc: Int, ansi: Boolean)
      extends VecDecExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      val maxAbs = POW10(p) - 1
      var i = 0
      if (sc >= fromScale) {
        val factor = POW10(sc - fromScale)
        val limit = maxAbs / factor
        while (i < n) {
          if (!isNull(i)) {
            val u = values(i)
            if (math.abs(u) > limit) {
              if (ansi && s.live(i)) {
                throw org.apache.spark.sql.errors.QueryExecutionErrors
                  .cannotChangeDecimalPrecisionError(
                    Decimal.createUnsafe(u, Decimal.MAX_LONG_DIGITS, fromScale), p, sc, null)
              }
              isNull(i) = true; values(i) = 0L
            } else values(i) = u * factor
          }
          i += 1
        }
      } else {
        val div = POW10(fromScale - sc)
        while (i < n) {
          if (!isNull(i)) {
            val u = values(i)
            var q = u / div
            val rem = u - q * div
            if (2L * math.abs(rem) >= div) q += (if (u >= 0L) 1L else -1L)
            if (math.abs(q) > maxAbs) {
              if (ansi && s.live(i)) {
                throw org.apache.spark.sql.errors.QueryExecutionErrors
                  .cannotChangeDecimalPrecisionError(
                    Decimal.createUnsafe(u, Decimal.MAX_LONG_DIGITS, fromScale), p, sc, null)
              }
              isNull(i) = true; values(i) = 0L
            } else values(i) = q
          }
          i += 1
        }
      }
    }
  }

  /** Narrowing 128→64 decimal cast — the TPC-H Q1 sum_charge shape
    * `cast(dec(38,4) AS dec(18,4))`. The compile gate admits only
    * same-or-up scale (never rounds) and pre-rescales through the 128
    * lane, so the child arrives AT the target scale and the only job
    * left is the precision bound: a value fits iff it is a compact long
    * (hi == sign-extension of lo) with |lo| ≤ 10^p−1. Overflow throws
    * under ANSI (live rows only, the masked-CASE discipline) and nulls
    * under LEGACY/TRY — exactly Cast's decimal→decimal semantics.
    */
  final case class Dec128To64(c: VecDec128Expr, fromPrec: Int, p: Int, sc: Int,
      ansi: Boolean) extends VecDecExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      val hi = s.l(n); val lo = s.l(n)
      c.eval(b, n, hi, lo, isNull, s)
      val maxAbs = POW10(p) - 1
      var i = 0
      while (i < n) {
        if (!isNull(i)) {
          val h = hi(i); val l = lo(i)
          if (h == (l >> 63) && l != Long.MinValue && math.abs(l) <= maxAbs) values(i) = l
          else if (ansi && s.live(i)) {
            throw org.apache.spark.sql.errors.QueryExecutionErrors
              .cannotChangeDecimalPrecisionError(
                Decimal(new java.math.BigDecimal(VecDec128Expr.big128(h, l), sc),
                  fromPrec, sc), p, sc, null)
          } else { isNull(i) = true; values(i) = 0L }
        }
        i += 1
      }
    }
  }

  /** CASE WHEN / If over Decimal64 branches — resolved CaseWhen
    * branches share one DecimalType, so every branch's unscaled longs
    * are at the same scale and selection is a plain copy. Same masked
    * lazy-error evaluation as [[VecNumExpr.CaseWhenD]] — the ANSI cast
    * sites inside a branch raise only for rows the branch actually
    * selects. */
  final case class CaseWhenDec(branches: Seq[(VecPredicate, VecDecExpr)], els: Option[VecDecExpr])
      extends VecDecExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      val outer = s.mask
      java.util.Arrays.fill(values, 0, n, 0L)
      java.util.Arrays.fill(isNull, 0, n, true)
      val undecided = s.b(n)
      var i = 0
      while (i < n) { undecided(i) = outer == null || outer(i); i += 1 }
      branches.foreach { case (p, v) =>
        val pv = s.b(n); val pn = s.b(n)
        p.eval(b, null, n, pv, pn)
        val sel = s.b(n)
        var any = false
        i = 0
        while (i < n) {
          sel(i) = undecided(i) && pv(i) && !pn(i)
          if (sel(i)) { any = true; undecided(i) = false }
          i += 1
        }
        if (any) {
          val tv = s.l(n); val tn = s.b(n)
          s.mask = sel
          try v.eval(b, n, tv, tn, s) finally s.mask = outer
          i = 0
          while (i < n) {
            if (sel(i)) { values(i) = tv(i); isNull(i) = tn(i) }
            i += 1
          }
        }
      }
      els.foreach { e =>
        val tv = s.l(n); val tn = s.b(n)
        s.mask = undecided
        try e.eval(b, n, tv, tn, s) finally s.mask = outer
        i = 0
        while (i < n) {
          if (undecided(i)) { values(i) = tv(i); isNull(i) = tn(i) }
          i += 1
        }
      }
    }
  }

  /** NULL decimal literal — reachable only inside a conditional. */
  final case class NullDec() extends VecDecExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[Long], isNull: Array[Boolean],
        s: VecScratch): Unit = {
      java.util.Arrays.fill(values, 0, n, 0L)
      java.util.Arrays.fill(isNull, 0, n, true)
    }
  }

  private def dec64(dt: DataType): Option[DecimalType] = dt match {
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS => Some(d)
    case _ => None
  }

  /** Compile a Catalyst decimal expression whose every node stays in
    * Decimal64 range, or name the fallback reason. Division is out
    * (Spark's decimal-division scale arithmetic exceeds 18 digits for
    * any interesting operand types); TRY casts compile as the null-on-
    * overflow path, identical to LEGACY for decimals. */
  def compile(e: Expression, output: Seq[Attribute]): Either[String, VecDecExpr] = {
    def ord(a: AttributeReference): Int = output.indexWhere(_.exprId == a.exprId)
    e match {
      case a: AttributeReference if dec64(a.dataType).isDefined && ord(a) >= 0 =>
        scala.Right(ColDec(ord(a), dec64(a.dataType).get.precision))
      case Literal(v, dt) if dec64(dt).isDefined && v != null =>
        scala.Right(LitDec(v.asInstanceOf[Decimal].toUnscaledLong))
      case a: Add if dec64(a.dataType).isDefined &&
          dec64(a.left.dataType).isDefined && dec64(a.right.dataType).isDefined =>
        val outS = dec64(a.dataType).get.scale
        val lf = POW10(outS - dec64(a.left.dataType).get.scale)
        val rf = POW10(outS - dec64(a.right.dataType).get.scale)
        for { l <- compile(a.left, output); r <- compile(a.right, output) }
          yield AddDec(l, r, lf, rf)
      case sub: Subtract if dec64(sub.dataType).isDefined &&
          dec64(sub.left.dataType).isDefined && dec64(sub.right.dataType).isDefined =>
        val outS = dec64(sub.dataType).get.scale
        val lf = POW10(outS - dec64(sub.left.dataType).get.scale)
        val rf = POW10(outS - dec64(sub.right.dataType).get.scale)
        for { l <- compile(sub.left, output); r <- compile(sub.right, output) }
          yield AddDec(l, r, lf, -rf)
      case m: Multiply if dec64(m.dataType).isDefined &&
          dec64(m.left.dataType).isDefined && dec64(m.right.dataType).isDefined =>
        for { l <- compile(m.left, output); r <- compile(m.right, output) } yield MulDec(l, r)
      case u: UnaryMinus if dec64(u.dataType).isDefined =>
        compile(u.child, output).map(NegDec)
      case ab: Abs if dec64(ab.dataType).isDefined =>
        compile(ab.child, output).map(AbsDec)
      case c: Cast if dec64(c.dataType).isDefined && c.child.dataType == DoubleType =>
        VecNumExpr.compile(c.child, output)
          .map(DoubleToDec(_, dec64(c.dataType).get.precision, dec64(c.dataType).get.scale,
            c.evalMode == EvalMode.ANSI))
      case c: Cast if dec64(c.dataType).isDefined && dec64(c.child.dataType).isDefined =>
        val to = dec64(c.dataType).get
        compile(c.child, output)
          .map(DecToDec(_, dec64(c.child.dataType).get.scale, to.precision, to.scale,
            c.evalMode == EvalMode.ANSI))
      case c: Cast if dec64(c.dataType).isDefined &&
          c.child.dataType.isInstanceOf[DecimalType] =>
        // 128-bit input narrowing into the Decimal64 lane (TPC-H Q1's
        // cast(price*(1-disc) AS dec(18,4))): up-scale exactly through
        // the 128 lane, bound-check here; a down-scale would round →
        // row path
        val from = c.child.dataType.asInstanceOf[DecimalType]
        val to = dec64(c.dataType).get
        if (to.scale < from.scale)
          scala.Left("scale-reducing 128-to-64 decimal cast (rounds) — row path")
        else if (from.precision + (to.scale - from.scale) > DecimalType.MAX_PRECISION)
          scala.Left("128-to-64 cast rescale could overflow int128 — row path")
        else
          VecDec128Expr.compile(c.child, output).map { k =>
            val atScale =
              if (to.scale == from.scale) k
              else VecDec128Expr.Rescale128(k, POW10(to.scale - from.scale))
            Dec128To64(atScale, from.precision + (to.scale - from.scale),
              to.precision, to.scale, c.evalMode == EvalMode.ANSI)
          }
      case iff: If if dec64(iff.dataType).isDefined =>
        compileCond(Seq((iff.predicate, iff.trueValue)), Some(iff.falseValue), output)
      case cw: CaseWhen if dec64(cw.dataType).isDefined =>
        compileCond(cw.branches, cw.elseValue, output)
      case Literal(null, dt) if dec64(dt).isDefined => scala.Right(NullDec())
      case other if !dec64(other.dataType).isDefined =>
        scala.Left(s"decimal precision beyond Decimal64: ${other.dataType} " +
          "(128-bit decimal arithmetic stays on the row path)")
      case other =>
        scala.Left(s"unsupported decimal projection expression: ${other.getClass.getSimpleName}")
    }
  }

  /** Shared If/CaseWhen compile for the decimal lane — see
    * [[VecNumExpr.compileCond]]. */
  private def compileCond(branches: Seq[(Expression, Expression)], els: Option[Expression],
      output: Seq[Attribute]): Either[String, VecDecExpr] = {
    val bs = branches.foldRight(
      scala.Right(Nil): Either[String, List[(VecPredicate, VecDecExpr)]]) { (be, acc) =>
      for {
        t <- acc
        p <- VecPredicate.compile(be._1, output)
        v <- compile(be._2, output)
      } yield (p, v) :: t
    }
    val ev = els match {
      case None => scala.Right(None)
      case Some(e) => compile(e, output).map(Some(_))
    }
    for { b <- bs; e <- ev } yield CaseWhenDec(b, e)
  }
}

/** Vectorized Decimal128 expression kernels: unscaled int128 values as
  * two's-complement (hi, lo) long pairs at each node's STATIC scale —
  * the wide-money lane the Decimal64 kernels cannot reach. The
  * admitted shapes are chosen so NO node can overflow int128 or round:
  * a product of two Decimal64 operands is ≤ 10^36 < 2^120; Spark's
  * add/subtract typing bounds every rescaled operand strictly below
  * the 38-digit result bound (< 2^127); casts compile only when the
  * digit arithmetic proves the target always holds the value. This is
  * the TPC-H money shape — sum(l_extendedprice * (1 - l_discount)) at
  * the spec's DECIMAL(15+,2) column types lands on DECIMAL(37,4) — and
  * the JVM twin of the reference's 128-bit decimal investment
  * (native/spark-expr sum_decimal.rs, checked_arithmetic.rs).
  */
sealed trait VecDec128Expr extends Serializable {
  def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long], isNull: Array[Boolean],
      s: VecScratch): Unit
}

object VecDec128Expr {
  private val POW10: Array[Long] = {
    val a = new Array[Long](19); a(0) = 1L
    var i = 1; while (i < 19) { a(i) = a(i - 1) * 10L; i += 1 }; a
  }

  /** (hi, lo) two's-complement int128 → BigInteger. */
  def big128(hi: Long, lo: Long): java.math.BigInteger = {
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(i) = (hi >>> (56 - 8 * i)).toByte
      bytes(8 + i) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    new java.math.BigInteger(bytes)
  }

  /** BigInteger (|bits| ≤ 127) → (hi, lo): low 64 two's-complement bits
    * and the next 64. */
  def hiOf(bi: java.math.BigInteger): Long = bi.shiftRight(64).longValue()
  def loOf(bi: java.math.BigInteger): Long = bi.longValue()

  /** column at precision 19..38: fast path through a graft
    * [[Dec128ArrayVector]], generic path via the getDecimal contract
    * (parquet's binary-backed decimals, row-produced batches). */
  final case class Col128(ord: Int, p: Int, sc: Int) extends VecDec128Expr {
    override def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long],
        isNull: Array[Boolean], s: VecScratch): Unit = {
      b.column(ord) match {
        case v: Dec128ArrayVector =>
          var i = 0
          while (i < n) {
            if (v.isNullAt(i)) { isNull(i) = true; hi(i) = 0L; lo(i) = 0L }
            else { isNull(i) = false; hi(i) = v.hiAt(i); lo(i) = v.loAt(i) }
            i += 1
          }
        case v =>
          var i = 0
          while (i < n) {
            if (v.isNullAt(i)) { isNull(i) = true; hi(i) = 0L; lo(i) = 0L }
            else {
              isNull(i) = false
              val d = v.getDecimal(i, p, sc)
              val bi = d.toJavaBigDecimal.unscaledValue()
              hi(i) = hiOf(bi); lo(i) = loOf(bi)
            }
            i += 1
          }
      }
    }
  }

  /** cast(double/float expr AS decimal128): Decimal(d).toPrecision —
    * the exact Cast body, after the same arithmetic fast path as
    * DoubleToDec. Empirically pinned (r15 probe): NaN/Infinity
    * → NULL in EVERY eval mode; finite overflow → NULL (LEGACY/TRY) or
    * SparkArithmeticException NUMERIC_VALUE_OUT_OF_RANGE (ANSI, via
    * toPrecision's own nullOnOverflow=false path). Floats reach here
    * through the lane's f.toDouble widening — the same widening Cast
    * itself performs before stringifying. ANSI throw site consults the
    * lazy mask. */
  final case class CastDblTo128(c: VecNumExpr, p: Int, sc: Int, ansi: Boolean,
      ctx: org.apache.spark.QueryContext) extends VecDec128Expr {
    override def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long],
        isNull: Array[Boolean], s: VecScratch): Unit = {
      val dv = s.d(n)
      c.eval(b, n, dv, isNull, s)
      var i = 0
      while (i < n) {
        if (isNull(i)) { hi(i) = 0L; lo(i) = 0L }
        else {
          val d = dv(i)
          if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) {
            isNull(i) = true; hi(i) = 0L; lo(i) = 0L
          } else {
            val k = VecDecExpr.halfUpScaled(d, sc)
            if (k == k && VecDecExpr.fitsDigits(k, p)) {
              lo(i) = k.toLong; hi(i) = if (k < 0) -1L else 0L
            } else {
              val dec = Decimal(d)
              val r =
                if (ansi && s.live(i))
                  dec.toPrecision(p, sc, Decimal.ROUND_HALF_UP, false, ctx)
                else dec.toPrecision(p, sc, Decimal.ROUND_HALF_UP, true, null)
              if (r == null) { isNull(i) = true; hi(i) = 0L; lo(i) = 0L }
              else {
                val bi = r.toJavaBigDecimal.unscaledValue()
                hi(i) = hiOf(bi); lo(i) = loOf(bi)
              }
            }
          }
        }
        i += 1
      }
    }
  }

  final case class Lit128(h: Long, l: Long) extends VecDec128Expr {
    override def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long],
        isNull: Array[Boolean], s: VecScratch): Unit = {
      java.util.Arrays.fill(hi, 0, n, h)
      java.util.Arrays.fill(lo, 0, n, l)
      java.util.Arrays.fill(isNull, 0, n, false)
    }
  }

  final case class Null128() extends VecDec128Expr {
    override def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long],
        isNull: Array[Boolean], s: VecScratch): Unit = {
      java.util.Arrays.fill(hi, 0, n, 0L)
      java.util.Arrays.fill(lo, 0, n, 0L)
      java.util.Arrays.fill(isNull, 0, n, true)
    }
  }

  /** Decimal64 × Decimal64 → int128 product at scale s1+s2. Exact and
    * overflow-free: |u| < 10^18 each ⇒ |product| < 10^36 < 2^120.
    * Math.multiplyHigh IS the signed 128-bit high word. */
  final case class Mul64x64(lk: VecDecExpr, rk: VecDecExpr) extends VecDec128Expr {
    override def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long],
        isNull: Array[Boolean], s: VecScratch): Unit = {
      val lv = s.l(n)
      lk.eval(b, n, lv, isNull, s)
      val rv = s.l(n); val rn = s.b(n)
      rk.eval(b, n, rv, rn, s)
      var i = 0
      while (i < n) {
        isNull(i) |= rn(i)
        lo(i) = lv(i) * rv(i)
        hi(i) = Math.multiplyHigh(lv(i), rv(i))
        i += 1
      }
    }
  }

  /** Decimal64 → Decimal128 with an up-scale multiply by 10^k (k may be
    * 0 — then this is a plain sign extension). The compile gate proves
    * p64 + k ≤ p128, so the result is exact and < 2^127. */
  final case class Widen64(c: VecDecExpr, factor: Long) extends VecDec128Expr {
    override def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long],
        isNull: Array[Boolean], s: VecScratch): Unit = {
      val lv = s.l(n)
      c.eval(b, n, lv, isNull, s)
      var i = 0
      while (i < n) {
        lo(i) = lv(i) * factor
        hi(i) = Math.multiplyHigh(lv(i), factor)
        i += 1
      }
    }
  }

  /** int128 × int64 product at scale s1+s2 — the mixed-width money
    * multiply (e.g. dec(18,2) × dec(19,2) from price × (1 − disc),
    * where the subtract's +1 digit pushed one side past 64 bits).
    * Compile-gated exact: p1+p2 ≤ 37 ⇒ |product| < 10^37 < 2^127. The
    * low-128 identity for signed c=(hi,lo) times signed v:
    * lo' = lo·v; hi' = hi·v + multiplyHigh(lo,v) + ((lo>>63) & v)
    * (the correction term converts the signed high word to the
    * unsigned-lo one). */
  final case class Mul128x64(c: VecDec128Expr, k: VecDecExpr) extends VecDec128Expr {
    override def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long],
        isNull: Array[Boolean], s: VecScratch): Unit = {
      c.eval(b, n, hi, lo, isNull, s)
      val kv = s.l(n); val kn = s.b(n)
      k.eval(b, n, kv, kn, s)
      var i = 0
      while (i < n) {
        isNull(i) |= kn(i)
        val l0 = lo(i); val v = kv(i)
        hi(i) = hi(i) * v + Math.multiplyHigh(l0, v) + ((l0 >> 63) & v)
        lo(i) = l0 * v
        i += 1
      }
    }
  }

  /** int128 × 10^k up-scale. Compile-gated to never overflow (operand
    * digits + k ≤ 38). The unsigned-low correction term turns the
    * signed multiplyHigh into the unsigned high word. */
  final case class Rescale128(c: VecDec128Expr, factor: Long) extends VecDec128Expr {
    override def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long],
        isNull: Array[Boolean], s: VecScratch): Unit = {
      c.eval(b, n, hi, lo, isNull, s)
      var i = 0
      while (i < n) {
        val l0 = lo(i)
        hi(i) = hi(i) * factor + Math.multiplyHigh(l0, factor) + ((l0 >> 63) & factor)
        lo(i) = l0 * factor
        i += 1
      }
    }
  }

  /** int128 add/subtract at a shared scale — compile-gated exact
    * (result digits ≤ 38 < 2^127, so no int128 overflow is reachable
    * on live values; masked/null rows carry bounded values too). */
  final case class Add128(lc: VecDec128Expr, rc: VecDec128Expr, negateRight: Boolean)
      extends VecDec128Expr {
    override def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long],
        isNull: Array[Boolean], s: VecScratch): Unit = {
      lc.eval(b, n, hi, lo, isNull, s)
      val rh = s.l(n); val rl = s.l(n); val rn = s.b(n)
      rc.eval(b, n, rh, rl, rn, s)
      var i = 0
      while (i < n) {
        isNull(i) |= rn(i)
        var vh = rh(i); var vl = rl(i)
        if (negateRight) {
          vh = ~vh + (if (vl == 0L) 1L else 0L)
          vl = -vl
        }
        val l0 = lo(i)
        val nl = l0 + vl
        val carry = ((l0 & vl) | ((l0 | vl) & ~nl)) >>> 63
        hi(i) = hi(i) + vh + carry
        lo(i) = nl
        i += 1
      }
    }
  }

  final case class Neg128(c: VecDec128Expr) extends VecDec128Expr {
    override def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long],
        isNull: Array[Boolean], s: VecScratch): Unit = {
      c.eval(b, n, hi, lo, isNull, s)
      var i = 0
      while (i < n) {
        val l0 = lo(i)
        hi(i) = ~hi(i) + (if (l0 == 0L) 1L else 0L)
        lo(i) = -l0
        i += 1
      }
    }
  }

  /** CASE WHEN / If over Decimal128 branches — masked lazy-error
    * evaluation, see [[VecNumExpr.CaseWhenD]]. Resolved branches share
    * one DecimalType: same scale everywhere, selection is two copies. */
  final case class CaseWhen128(branches: Seq[(VecPredicate, VecDec128Expr)],
      els: Option[VecDec128Expr]) extends VecDec128Expr {
    override def eval(b: ColumnarBatch, n: Int, hi: Array[Long], lo: Array[Long],
        isNull: Array[Boolean], s: VecScratch): Unit = {
      val outer = s.mask
      java.util.Arrays.fill(hi, 0, n, 0L)
      java.util.Arrays.fill(lo, 0, n, 0L)
      java.util.Arrays.fill(isNull, 0, n, true)
      val undecided = s.b(n)
      var i = 0
      while (i < n) { undecided(i) = outer == null || outer(i); i += 1 }
      branches.foreach { case (p, v) =>
        val pv = s.b(n); val pn = s.b(n)
        p.eval(b, null, n, pv, pn)
        val sel = s.b(n)
        var any = false
        i = 0
        while (i < n) {
          sel(i) = undecided(i) && pv(i) && !pn(i)
          if (sel(i)) { any = true; undecided(i) = false }
          i += 1
        }
        if (any) {
          val th = s.l(n); val tl = s.l(n); val tn = s.b(n)
          s.mask = sel
          try v.eval(b, n, th, tl, tn, s) finally s.mask = outer
          i = 0
          while (i < n) {
            if (sel(i)) { hi(i) = th(i); lo(i) = tl(i); isNull(i) = tn(i) }
            i += 1
          }
        }
      }
      els.foreach { e =>
        val th = s.l(n); val tl = s.l(n); val tn = s.b(n)
        s.mask = undecided
        try e.eval(b, n, th, tl, tn, s) finally s.mask = outer
        i = 0
        while (i < n) {
          if (undecided(i)) { hi(i) = th(i); lo(i) = tl(i); isNull(i) = tn(i) }
          i += 1
        }
      }
    }
  }

  private def dec64T(dt: DataType): Option[DecimalType] = dt match {
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS => Some(d)
    case _ => None
  }
  private def dec128T(dt: DataType): Option[DecimalType] = dt match {
    case d: DecimalType
        if d.precision > Decimal.MAX_LONG_DIGITS && d.precision <= DecimalType.MAX_PRECISION =>
      Some(d)
    case _ => None
  }

  /** Compile a wide-decimal Catalyst expression, or name the fallback
    * reason. Only never-overflow, never-round shapes compile: the exact
    * 64×64 product, digit-bounded up-scale casts, exact add/subtract,
    * and conditionals over those. Anything that would ROUND (scale-
    * reducing cast, precision-loss multiply) or overflow stays on the
    * row path — those carry Spark's per-mode semantics this lane
    * deliberately does not re-implement. */
  def compile(e: Expression, output: Seq[Attribute]): Either[String, VecDec128Expr] = {
    def ord(a: AttributeReference): Int = output.indexWhere(_.exprId == a.exprId)
    e match {
      case a: AttributeReference if dec128T(a.dataType).isDefined && ord(a) >= 0 =>
        val d = dec128T(a.dataType).get
        scala.Right(Col128(ord(a), d.precision, d.scale))
      case Literal(v, dt) if dec128T(dt).isDefined && v != null =>
        val bi = v.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue()
        scala.Right(Lit128(hiOf(bi), loOf(bi)))
      case Literal(null, dt) if dec128T(dt).isDefined => scala.Right(Null128())
      case m: Multiply if dec128T(m.dataType).isDefined &&
          m.left.dataType.isInstanceOf[DecimalType] &&
          m.right.dataType.isInstanceOf[DecimalType] =>
        val d = dec128T(m.dataType).get
        val lt = m.left.dataType.asInstanceOf[DecimalType]
        val rt = m.right.dataType.asInstanceOf[DecimalType]
        if (d.scale != lt.scale + rt.scale)
          scala.Left("precision-loss decimal multiply (rounded scale) — row path")
        else if (lt.precision + rt.precision + 1 > DecimalType.MAX_PRECISION)
          scala.Left("decimal multiply that can overflow 38 digits — row path")
        else (dec64T(lt), dec64T(rt)) match {
          case (Some(_), Some(_)) =>
            for {
              l <- VecDecExpr.compile(m.left, output)
              r <- VecDecExpr.compile(m.right, output)
            } yield Mul64x64(l, r)
          case (Some(_), None) =>
            for {
              r <- compile(m.right, output)
              l <- VecDecExpr.compile(m.left, output)
            } yield Mul128x64(r, l)
          case (None, Some(_)) =>
            for {
              l <- compile(m.left, output)
              r <- VecDecExpr.compile(m.right, output)
            } yield Mul128x64(l, r)
          case _ => scala.Left("128×128-bit decimal multiply — row path")
        }
      case c: Cast if dec128T(c.dataType).isDefined &&
          (c.child.dataType == DoubleType || c.child.dataType == FloatType) &&
          c.evalMode != EvalMode.TRY =>
        // TRY stays row: try_cast's null-on-ANY-failure differs from
        // the LEGACY rounding path only in provenance tagging — keep
        // the gate conservative
        val to = dec128T(c.dataType).get
        VecNumExpr.compile(c.child, output).map(
          CastDblTo128(_, to.precision, to.scale,
            c.evalMode == EvalMode.ANSI, c.getContextOrNull()))
      case c: Cast if dec128T(c.dataType).isDefined =>
        // digit-bounded up-scale only (cannot round or overflow in ANY
        // eval mode); everything else carries per-mode semantics → row
        compileTo(c.child, dec128T(c.dataType).get, output, headroom = 0)
      case a: Add if dec128T(a.dataType).isDefined =>
        // headroom 1: each rescaled operand must sit a full digit below
        // the result precision, so |l ± r| < 2·10^(p-1) ≤ 10^p ≤ 10^38
        // < 2^127 — the add can overflow neither the Spark type nor
        // int128. Spark's unadjusted Add typing guarantees this; a
        // 38-capped (precision-loss) add fails the gate → row path.
        val to = dec128T(a.dataType).get
        for {
          l <- compileTo(a.left, to, output, headroom = 1)
          r <- compileTo(a.right, to, output, headroom = 1)
        } yield Add128(l, r, negateRight = false)
      case sub: Subtract if dec128T(sub.dataType).isDefined =>
        val to = dec128T(sub.dataType).get
        for {
          l <- compileTo(sub.left, to, output, headroom = 1)
          r <- compileTo(sub.right, to, output, headroom = 1)
        } yield Add128(l, r, negateRight = true)
      case u: UnaryMinus if dec128T(u.dataType).isDefined =>
        compile(u.child, output).map(Neg128)
      case iff: If if dec128T(iff.dataType).isDefined =>
        compileCond(Seq((iff.predicate, iff.trueValue)), Some(iff.falseValue), output)
      case cw: CaseWhen if dec128T(cw.dataType).isDefined =>
        compileCond(cw.branches, cw.elseValue, output)
      case other =>
        scala.Left(s"unsupported decimal128 expression: ${other.getClass.getSimpleName}")
    }
  }

  /** Compile `e` and bring it to `to`'s scale (Add/Subtract operands
    * keep their own types in Catalyst). The gate proves the rescaled
    * value always fits `to.precision - headroom` digits, so the
    * up-scale multiply is exact and int128-safe for every input. */
  private def compileTo(e: Expression, to: DecimalType, output: Seq[Attribute],
      headroom: Int): Either[String, VecDec128Expr] = e.dataType match {
    case f: DecimalType if f.scale > to.scale =>
      scala.Left("scale-reducing decimal rescale (rounds) — row path")
    case f: DecimalType if to.scale - f.scale > 18 =>
      scala.Left("rescale factor beyond 10^18 — row path")
    case f: DecimalType if f.precision + (to.scale - f.scale) > to.precision - headroom =>
      scala.Left("rescaled operand may overflow the target precision — row path")
    case f: DecimalType if f.precision <= Decimal.MAX_LONG_DIGITS =>
      VecDecExpr.compile(e, output).map(Widen64(_, POW10(to.scale - f.scale)))
    case f: DecimalType =>
      compile(e, output).map { k =>
        if (f.scale == to.scale) k else Rescale128(k, POW10(to.scale - f.scale))
      }
    case other => scala.Left(s"non-decimal operand $other in a decimal128 expression")
  }

  private def compileCond(branches: Seq[(Expression, Expression)], els: Option[Expression],
      output: Seq[Attribute]): Either[String, VecDec128Expr] = {
    val bs = branches.foldRight(
      scala.Right(Nil): Either[String, List[(VecPredicate, VecDec128Expr)]]) { (be, acc) =>
      for {
        t <- acc
        p <- VecPredicate.compile(be._1, output)
        v <- compile(be._2, output)
      } yield (p, v) :: t
    }
    val ev = els match {
      case None => scala.Right(None)
      case Some(e) => compile(e, output).map(Some(_))
    }
    for { b <- bs; e <- ev } yield CaseWhen128(b, e)
  }
}

/** Vectorized string kernels, evaluated column-at-a-time over
  * UTF8String references. The supported surface is the pure,
  * locale-independent string algebra whose Spark semantics are
  * identical in every eval mode: upper/lower (UTF8String's own
  * simd-ish ASCII fast path), trim, substring with LITERAL pos/len
  * (Substring.eval → UTF8String.substringSQL, including negative-pos
  * handling), and concat (NULL if ANY input is NULL — Concat's string
  * semantics). Collation-sensitive or locale-parameterized functions
  * (initcap's title-casing, lpad with multi-char pads, regexp_*) stay
  * on the row path with a tagged reason.
  */
sealed trait VecStrExpr extends Serializable {
  def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String], isNull: Array[Boolean],
      s: StrScratch): Unit
}

/** Per-partition UTF8String scratch pool (mirror of [[VecScratch]]). */
final class StrScratch {
  private[this] var pool = new Array[Array[UTF8String]](4)
  private[this] var bPool = new Array[Array[Boolean]](4)
  private[this] var si = 0
  private[this] var bi = 0
  def reset(): Unit = { si = 0; bi = 0 }
  def s(n: Int): Array[UTF8String] = {
    if (si == pool.length) pool = java.util.Arrays.copyOf(pool, si * 2)
    if (pool(si) == null || pool(si).length < n) pool(si) = new Array[UTF8String](n)
    val a = pool(si); si += 1; a
  }
  def b(n: Int): Array[Boolean] = {
    if (bi == bPool.length) bPool = java.util.Arrays.copyOf(bPool, bi * 2)
    if (bPool(bi) == null || bPool(bi).length < n) bPool(bi) = new Array[Boolean](n)
    val a = bPool(bi); bi += 1; a
  }
}

object VecStrExpr {

  final case class ColS(ord: Int) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      val v = b.column(ord)
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) { isNull(i) = true; values(i) = null }
        else { isNull(i) = false; values(i) = v.getUTF8String(i) }
        i += 1
      }
    }
  }

  final case class LitNullS() extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], 0, n, null)
      java.util.Arrays.fill(isNull, 0, n, true)
    }
  }
  final case class LitS(v: UTF8String) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], 0, n, v)
      java.util.Arrays.fill(isNull, 0, n, false)
    }
  }

  final val UPPER = 0; final val LOWER = 1; final val TRIM = 2

  final case class MapS(op: Int, c: VecStrExpr) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      op match {
        case UPPER => while (i < n) { if (!isNull(i)) values(i) = values(i).toUpperCase; i += 1 }
        case LOWER => while (i < n) { if (!isNull(i)) values(i) = values(i).toLowerCase; i += 1 }
        case TRIM  => while (i < n) { if (!isNull(i)) values(i) = values(i).trim(); i += 1 }
      }
    }
  }

  /** substring with literal pos/len — exactly Substring.eval's
    * UTF8String.substringSQL (1-based, negative pos from the end). */
  final case class SubstrS(c: VecStrExpr, pos: Int, len: Int) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) { if (!isNull(i)) values(i) = values(i).substringSQL(pos, len); i += 1 }
    }
  }

  /** coalesce over string kernels: first non-null per row — pure
    * selection, allocation-free (the winning child's value is reused). */
  final case class CoalesceS(cs: Seq[VecStrExpr]) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      cs.head.eval(b, n, values, isNull, s)
      cs.tail.foreach { c =>
        var anyNull = false
        var i = 0
        while (i < n && !anyNull) { anyNull = isNull(i); i += 1 }
        if (anyNull) {
          val tv = s.s(n); val tn = s.b(n)
          c.eval(b, n, tv, tn, s)
          i = 0
          while (i < n) {
            if (isNull(i) && !tn(i)) { values(i) = tv(i); isNull(i) = false }
            i += 1
          }
        }
      }
    }
  }

  /** concat_ws with a literal separator: null inputs are SKIPPED (unlike
    * Concat's null-poisoning), matching ConcatWs semantics. */
  final case class ConcatWsS(sep: UTF8String, cs: Seq[VecStrExpr]) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      val k = cs.length
      val parts = new Array[Array[UTF8String]](k)
      val partNull = new Array[Array[Boolean]](k)
      var c = 0
      while (c < k) {
        val pv = s.s(n); val pn = s.b(n)
        cs(c).eval(b, n, pv, pn, s)
        parts(c) = pv; partNull(c) = pn
        c += 1
      }
      val row = new Array[UTF8String](k)
      var i = 0
      while (i < n) {
        var m = 0
        var j = 0
        while (j < k) {
          if (!partNull(j)(i)) { row(m) = parts(j)(i); m += 1 }
          j += 1
        }
        isNull(i) = false
        values(i) = UTF8String.concatWs(sep, java.util.Arrays.copyOf(row, m): _*)
        i += 1
      }
    }
  }

  /** Integral column rendered as its decimal string — Spark's
    * integral→string cast is `Long.toString` in every eval mode (no
    * overflow, no locale), so ANSI/LEGACY/TRY agree by construction.
    * The input ordinal is read with a width-dispatched getter so
    * byte/short/int/long all land here.
    */
  final case class CastIntegralToStrS(ord: Int, dt: DataType) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      val v = b.column(ord)
      var i = 0
      dt match {
        case LongType =>
          while (i < n) {
            if (v.isNullAt(i)) { isNull(i) = true; values(i) = null }
            else { isNull(i) = false
              values(i) = UTF8String.fromString(java.lang.Long.toString(v.getLong(i))) }
            i += 1
          }
        case IntegerType =>
          while (i < n) {
            if (v.isNullAt(i)) { isNull(i) = true; values(i) = null }
            else { isNull(i) = false
              values(i) = UTF8String.fromString(java.lang.Integer.toString(v.getInt(i))) }
            i += 1
          }
        case ShortType =>
          while (i < n) {
            if (v.isNullAt(i)) { isNull(i) = true; values(i) = null }
            else { isNull(i) = false
              values(i) = UTF8String.fromString(java.lang.Short.toString(v.getShort(i))) }
            i += 1
          }
        case _ => // ByteType (gated at compile)
          while (i < n) {
            if (v.isNullAt(i)) { isNull(i) = true; values(i) = null }
            else { isNull(i) = false
              values(i) = UTF8String.fromString(java.lang.Byte.toString(v.getByte(i))) }
            i += 1
          }
      }
    }
  }

  /** md5 of the UTF-8 bytes of a string — Spark's `Md5(Cast(s, BINARY))`
    * shape (the string→binary cast IS the UTF-8 bytes, identical in all
    * eval modes; Md5 emits the lowercase-hex digest, Md5.nullSafeEval →
    * commons-codec md5Hex). The hash-threshold sampling predicate
    * (`substring(md5(key), 1, n) < '...'`) compiles through here.
    */
  final case class Md5HexS(c: VecStrExpr) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = "0123456789abcdef".toCharArray
      var i = 0
      while (i < n) {
        if (!isNull(i)) {
          md.reset()
          val in = values(i).getBytes
          val dig = md.digest(in)
          val out = new Array[Byte](dig.length * 2)
          var j = 0
          while (j < dig.length) {
            out(j * 2) = hex((dig(j) >> 4) & 0xf).toByte
            out(j * 2 + 1) = hex(dig(j) & 0xf).toByte
            j += 1
          }
          values(i) = UTF8String.fromBytes(out)
        }
        i += 1
      }
    }
  }

  /** String concat: NULL if any input is NULL (Concat's semantics). */
  final case class ConcatS(cs: Seq[VecStrExpr]) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      val k = cs.length
      val parts = new Array[Array[UTF8String]](k)
      val partNull = new Array[Array[Boolean]](k)
      var c = 0
      while (c < k) {
        val pv = s.s(n); val pn = s.b(n)
        cs(c).eval(b, n, pv, pn, s)
        parts(c) = pv; partNull(c) = pn
        c += 1
      }
      val row = new Array[UTF8String](k)
      var i = 0
      while (i < n) {
        var nul = false
        var j = 0
        while (j < k && !nul) { nul = partNull(j)(i); row(j) = parts(j)(i); j += 1 }
        if (nul) { isNull(i) = true; values(i) = null }
        else { isNull(i) = false; values(i) = UTF8String.concat(row: _*) }
        i += 1
      }
    }
  }

  /** lpad/rpad with literal length/pad — UTF8String.lpad/rpad, the
    * exact calls StringLPad/StringRPad.nullSafeEval make. */
  final case class PadS(c: VecStrExpr, len: Int, pad: UTF8String, left: Boolean)
      extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) {
        if (!isNull(i)) values(i) =
          if (left) values(i).lpad(len, pad) else values(i).rpad(len, pad)
        i += 1
      }
    }
  }

  /** CASE WHEN / If over string branches, evaluated EAGERLY over the
    * whole batch (conditions on the filter predicate runtime; every
    * string kernel is throw-free, the compile gate still requires
    * total branches like [[CaseWhenL]]). */
  final case class CaseWhenS(branches: Seq[(VecPredicate, VecStrExpr)],
      els: Option[VecStrExpr]) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], 0, n, null)
      java.util.Arrays.fill(isNull, 0, n, true)
      val undecided = s.b(n)
      java.util.Arrays.fill(undecided, 0, n, true)
      branches.foreach { case (p, v) =>
        val pv = s.b(n); val pn = s.b(n)
        p.eval(b, null, n, pv, pn)
        val tv = s.s(n); val tn = s.b(n)
        v.eval(b, n, tv, tn, s)
        var i = 0
        while (i < n) {
          if (undecided(i) && pv(i) && !pn(i)) {
            undecided(i) = false; values(i) = tv(i); isNull(i) = tn(i)
          }
          i += 1
        }
      }
      els.foreach { e =>
        val tv = s.s(n); val tn = s.b(n)
        e.eval(b, n, tv, tn, s)
        var i = 0
        while (i < n) {
          if (undecided(i)) { values(i) = tv(i); isNull(i) = tn(i) }
          i += 1
        }
      }
    }
  }

  /** initcap under the default binary collation — the exact
    * CollationSupport.InitCap.execBinary call the row expression makes. */
  final case class InitCapS(c: VecStrExpr) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) {
        if (!isNull(i)) values(i) =
          org.apache.spark.sql.catalyst.util.CollationSupport.InitCap.execBinary(values(i))
        i += 1
      }
    }
  }

  /** repeat(str, literal n) — UTF8String.repeat. */
  final case class RepeatS(c: VecStrExpr, times: Int) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) {
        if (!isNull(i)) values(i) = values(i).repeat(times)
        i += 1
      }
    }
  }

  /** replace(str, literal search, literal replacement) — UTF8String.replace. */
  final case class ReplaceS(c: VecStrExpr, search: UTF8String, rep: UTF8String)
      extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) {
        if (!isNull(i)) values(i) = values(i).replace(search, rep)
        i += 1
      }
    }
  }

  /** translate(str, literal from, literal to) — the dict built ONCE by
    * StringTranslate.buildDict (matching-char mapping incl. deletions),
    * applied via UTF8String.translate like the row path. */
  final case class TranslateS(c: VecStrExpr, from: UTF8String, to: UTF8String)
      extends VecStrExpr {
    @transient private[this] var dict: java.util.Map[String, String] = null
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      if (dict == null)
        dict = org.apache.spark.sql.catalyst.expressions.StringTranslate
          .buildDict(from, to, 0)
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) {
        if (!isNull(i)) values(i) = values(i).translate(dict)
        i += 1
      }
    }
  }

  /** sha1/sha2 hex over a string's UTF-8 bytes — MessageDigest with the
    * exact algorithm the row expression's DigestUtils call wraps. */
  final case class DigestHexS(algo: String, c: VecStrExpr) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      val md = java.security.MessageDigest.getInstance(algo)
      val hex = "0123456789abcdef".toCharArray
      var i = 0
      while (i < n) {
        if (!isNull(i)) {
          md.reset()
          val dig = md.digest(values(i).getBytes)
          val out = new Array[Byte](dig.length * 2)
          var j = 0
          while (j < dig.length) {
            out(2 * j) = hex((dig(j) >> 4) & 0xF).toByte
            out(2 * j + 1) = hex(dig(j) & 0xF).toByte
            j += 1
          }
          values(i) = UTF8String.fromBytes(out)
        }
        i += 1
      }
    }
  }

  /** hex(long-family expr) — the exact Hex.hex(long) static. */
  final case class HexLongS(k: VecLongExpr) extends VecStrExpr {
    @transient private[this] var lv: Array[Long] = null
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      if (lv == null || lv.length < n) lv = new Array[Long](n)
      k.eval(b, n, lv, isNull)
      var i = 0
      while (i < n) {
        if (!isNull(i)) values(i) =
          org.apache.spark.sql.catalyst.expressions.Hex.hex(lv(i))
        else values(i) = null
        i += 1
      }
    }
  }

  /** hex(string) — Hex.hex over the UTF-8 bytes. */
  final case class HexStrS(c: VecStrExpr) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) {
        if (!isNull(i)) values(i) =
          org.apache.spark.sql.catalyst.expressions.Hex.hex(values(i).getBytes)
        i += 1
      }
    }
  }

  /** bin(long) — Long.toBinaryString, the exact Bin.nullSafeEval call. */
  final case class BinS(k: VecLongExpr) extends VecStrExpr {
    @transient private[this] var lv: Array[Long] = null
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      if (lv == null || lv.length < n) lv = new Array[Long](n)
      k.eval(b, n, lv, isNull)
      var i = 0
      while (i < n) {
        values(i) = if (isNull(i)) null
          else UTF8String.fromString(java.lang.Long.toBinaryString(lv(i)))
        i += 1
      }
    }
  }

  /** regexp_replace(str, literal pattern, literal rep, pos=1) — the
    * same Pattern + appendReplacement loop (replaceAll) the row
    * expression runs, group references in the replacement included. */
  final case class RegexReplaceS(c: VecStrExpr, pattern: java.util.regex.Pattern,
      rep: String) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) {
        if (!isNull(i)) values(i) =
          UTF8String.fromString(pattern.matcher(values(i).toString).replaceAll(rep))
        i += 1
      }
    }
  }

  /** chr(long) — Chr.nullSafeEval exactly: negative → empty, low byte
    * 0 → NUL char, else the low byte as a char. */
  final case class ChrS(k: VecLongExpr) extends VecStrExpr {
    @transient private[this] var lv: Array[Long] = null
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      if (lv == null || lv.length < n) lv = new Array[Long](n)
      k.eval(b, n, lv, isNull)
      var i = 0
      while (i < n) {
        values(i) = if (isNull(i)) null else {
          val v = lv(i)
          if (v < 0) UTF8String.EMPTY_UTF8
          else if ((v & 0xFF) == 0) UTF8String.fromString(Character.MIN_VALUE.toString)
          else UTF8String.fromString((v & 0xFF).toChar.toString)
        }
        i += 1
      }
    }
  }

  /** cast(unhex(str) AS string) — Hex.unhex of the UTF-8 bytes (null
    * on invalid input), reinterpreted as a string like the binary→
    * string cast. */
  final case class UnhexToStrS(c: VecStrExpr) extends VecStrExpr {
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      c.eval(b, n, values, isNull, s)
      var i = 0
      while (i < n) {
        if (!isNull(i)) {
          val bytes = org.apache.spark.sql.catalyst.expressions.Hex
            .unhex(values(i).getBytes)
          if (bytes == null) { isNull(i) = true; values(i) = null }
          else values(i) = UTF8String.fromBytes(bytes)
        }
        i += 1
      }
    }
  }

  /** cast(long-family EXPRESSION as string): the lane value's decimal
    * digits (Long.toString of the widened value prints identically for
    * every integral width). The attribute-only CastIntegralToStrS stays
    * for the zero-copy common case. */
  final case class CastLongExprToStrS(k: VecLongExpr) extends VecStrExpr {
    @transient private[this] var lv: Array[Long] = null
    override def eval(b: ColumnarBatch, n: Int, values: Array[UTF8String],
        isNull: Array[Boolean], s: StrScratch): Unit = {
      if (lv == null || lv.length < n) lv = new Array[Long](n)
      k.eval(b, n, lv, isNull)
      var i = 0
      while (i < n) {
        values(i) = if (isNull(i)) null
          else UTF8String.fromString(java.lang.Long.toString(lv(i)))
        i += 1
      }
    }
  }

  /** Kernel-tree cost classifiers for the FILTER-compare swap gate (the
    * projection swap has its own A/B gating): md5 anywhere makes the
    * per-row hash dominate (conversion savings win regardless of input
    * shape); otherwise only allocation-free view compositions
    * (column/literal/substring/trim) beat fused codegen.
    */
  def hashHeavy(k: VecStrExpr): Boolean = k match {
    case Md5HexS(_) | DigestHexS(_, _) => true
    case MapS(_, c) => hashHeavy(c)
    case SubstrS(c, _, _) => hashHeavy(c)
    case ConcatS(cs) => cs.exists(hashHeavy)
    case ConcatWsS(_, cs) => cs.exists(hashHeavy)
    case CoalesceS(cs) => cs.exists(hashHeavy)
    case _ => false
  }
  def allocFree(k: VecStrExpr): Boolean = k match {
    case ColS(_) | LitS(_) => true
    case SubstrS(c, _, _) => allocFree(c) // substringSQL = byte-range view
    case MapS(TRIM, c) => allocFree(c)    // trim = byte-range view
    case CoalesceS(cs) => cs.forall(allocFree) // pure selection
    case _ => false                       // upper/lower/concat/cast/md5 allocate
  }

  /** Totality gate for full-batch FILTER use: [[GraftColumnarFilter]]'s
    * ComputedStrCmp evaluates kernels over the WHOLE batch, including
    * rows already excluded by earlier conjuncts or null-masked rows — a
    * kernel with a throw site (e.g. a future ANSI narrowing cast) would
    * fault on rows the row path never evaluates. Explicit whitelist like
    * [[allocFree]]: a NEW kernel is not total until listed here, so it
    * falls back to the row path instead of silently changing filter
    * semantics. Every current kernel is throw-free on arbitrary input. */
  def total(k: VecStrExpr): Boolean = k match {
    case ColS(_) | LitS(_) | LitNullS() | CastIntegralToStrS(_, _) => true
    case MapS(_, c) => total(c)
    case SubstrS(c, _, _) => total(c)
    case Md5HexS(c) => total(c)
    case CoalesceS(cs) => cs.forall(total)
    case ConcatS(cs) => cs.forall(total)
    case ConcatWsS(_, cs) => cs.forall(total)
    case PadS(c, _, _, _) => total(c)
    case CaseWhenS(bs, e) => bs.forall(b => total(b._2)) && e.forall(total)
    case InitCapS(c) => total(c)
    case RepeatS(c, _) => total(c)
    case ReplaceS(c, _, _) => total(c)
    case TranslateS(c, _, _) => total(c)
    case DigestHexS(_, c) => total(c)
    case HexStrS(c) => total(c)
    case HexLongS(k) => VecLongExpr.total(k)
    case CastLongExprToStrS(k) => VecLongExpr.total(k)
    case BinS(k) => VecLongExpr.total(k)
    case ChrS(k) => VecLongExpr.total(k)
    case UnhexToStrS(c) => total(c)
    case RegexReplaceS(c, _, _) => total(c)
    case _ => false
  }

  /** Compile a Catalyst string expression, or name the fallback reason. */
  def compile(e: Expression, output: Seq[Attribute]): Either[String, VecStrExpr] = {
    def ord(a: AttributeReference): Int = output.indexWhere(_.exprId == a.exprId)
    e match {
      case a: AttributeReference if a.dataType == StringType && ord(a) >= 0 =>
        scala.Right(ColS(ord(a)))
      case Literal(v: UTF8String, StringType) if v != null =>
        scala.Right(LitS(v))
      case u: Upper => compile(u.child, output).map(MapS(UPPER, _))
      case l: Lower => compile(l.child, output).map(MapS(LOWER, _))
      case t: StringTrim if t.trimStr.isEmpty =>
        compile(t.srcStr, output).map(MapS(TRIM, _))
      case Substring(str, Literal(p: Int, IntegerType), Literal(l: Int, IntegerType)) =>
        compile(str, output).map(SubstrS(_, p, l))
      case c: Concat if c.dataType == StringType && c.children.nonEmpty =>
        val parts = c.children.map(compile(_, output))
        parts.collectFirst { case scala.Left(r) => scala.Left(r) }
          .getOrElse(scala.Right(ConcatS(parts.collect { case scala.Right(k) => k })))
      case c: Cast if c.dataType == StringType =>
        c.child match {
          case a: AttributeReference if ord(a) >= 0 &&
              (a.dataType == LongType || a.dataType == IntegerType ||
               a.dataType == ShortType || a.dataType == ByteType) =>
            scala.Right(CastIntegralToStrS(ord(a), a.dataType))
          case uh: Unhex if !uh.failOnError =>
            compile(uh.child, output).map(UnhexToStrS)
              .left.map(r => s"unsupported cast-to-string input: $r")
          case other if other.dataType == LongType || other.dataType == IntegerType ||
              other.dataType == ShortType || other.dataType == ByteType =>
            VecLongExpr.compile(other, output).map(CastLongExprToStrS)
              .left.map(r => s"unsupported cast-to-string input: $r")
          case other =>
            scala.Left(s"unsupported cast-to-string input: ${other.getClass.getSimpleName}")
        }
      case co: Coalesce if co.dataType == StringType && co.children.nonEmpty =>
        val parts = co.children.map(compile(_, output))
        parts.collectFirst { case scala.Left(r) => scala.Left(r) }
          .getOrElse(scala.Right(CoalesceS(parts.collect { case scala.Right(k) => k })))
      case cw: ConcatWs if cw.dataType == StringType && cw.children.size >= 2 &&
          cw.children.forall(_.dataType == StringType) =>
        cw.children.head match {
          case Literal(sep: UTF8String, StringType) if sep != null =>
            val parts = cw.children.tail.map(compile(_, output))
            parts.collectFirst { case scala.Left(r) => scala.Left(r) }
              .getOrElse(scala.Right(
                ConcatWsS(sep, parts.collect { case scala.Right(k) => k })))
          case _ => scala.Left("concat_ws needs a literal string separator")
        }
      case iff: If if iff.dataType == StringType =>
        for {
          p <- VecPredicate.compile(iff.predicate, output)
          t <- compile(iff.trueValue, output)
          f <- compile(iff.falseValue, output)
          _ <- if (total(t) && total(f)) scala.Right(())
          else scala.Left("non-total string branch under eager IF evaluation")
        } yield CaseWhenS(Seq((p, t)), Some(f))
      case cw: CaseWhen if cw.dataType == StringType =>
        val bs = cw.branches.foldRight(
          scala.Right(Nil): Either[String, List[(VecPredicate, VecStrExpr)]]) { (be, acc) =>
          for {
            t <- acc
            p <- VecPredicate.compile(be._1, output)
            v <- compile(be._2, output)
          } yield (p, v) :: t
        }
        val ev = cw.elseValue match {
          case None => scala.Right(None)
          case Some(x) => compile(x, output).map(Some(_))
        }
        for {
          b <- bs; e <- ev
          _ <- if (b.forall(x => total(x._2)) && e.forall(total)) scala.Right(())
          else scala.Left("non-total string branch under eager CASE evaluation")
        } yield CaseWhenS(b, e)
      case n2: Literal if n2.value == null && n2.dataType == StringType =>
        scala.Right(LitNullS())
      case lp: StringLPad if lp.dataType == StringType =>
        (lp.len, lp.pad) match {
          case (Literal(l: Int, IntegerType), Literal(pd: UTF8String, StringType))
              if pd != null =>
            compile(lp.str, output).map(PadS(_, l, pd, left = true))
          case _ => scala.Left("lpad needs literal length/pad")
        }
      case rp: StringRPad if rp.dataType == StringType =>
        (rp.len, rp.pad) match {
          case (Literal(l: Int, IntegerType), Literal(pd: UTF8String, StringType))
              if pd != null =>
            compile(rp.str, output).map(PadS(_, l, pd, left = false))
          case _ => scala.Left("rpad needs literal length/pad")
        }
      case ic: InitCap if ic.child.dataType == StringType =>
        compile(ic.child, output).map(InitCapS)
      case rp2: StringRepeat =>
        rp2.times match {
          case Literal(t: Int, IntegerType) =>
            compile(rp2.str, output).map(RepeatS(_, t))
          case _ => scala.Left("repeat needs a literal count")
        }
      case sr: StringReplace =>
        (sr.searchExpr, sr.replaceExpr) match {
          case (Literal(se: UTF8String, StringType), Literal(re: UTF8String, StringType))
              if se != null && re != null =>
            compile(sr.srcExpr, output).map(ReplaceS(_, se, re))
          case _ => scala.Left("replace needs literal search/replacement")
        }
      case tr: StringTranslate =>
        (tr.matchingExpr, tr.replaceExpr) match {
          case (Literal(f: UTF8String, StringType), Literal(t: UTF8String, StringType))
              if f != null && t != null =>
            compile(tr.srcExpr, output).map(TranslateS(_, f, t))
          case _ => scala.Left("translate needs literal from/to")
        }
      case sh: Sha1 =>
        sh.child match {
          case c: Cast if c.dataType == BinaryType && c.child.dataType == StringType =>
            compile(c.child, output).map(DigestHexS("SHA-1", _))
          case other =>
            scala.Left(s"unsupported sha1 input: ${other.getClass.getSimpleName}")
        }
      case sh2: Sha2 =>
        val algo = sh2.right match {
          case Literal(0, IntegerType) | Literal(256, IntegerType) => Some("SHA-256")
          case Literal(224, IntegerType) => Some("SHA-224")
          case Literal(384, IntegerType) => Some("SHA-384")
          case Literal(512, IntegerType) => Some("SHA-512")
          case _ => None
        }
        (algo, sh2.left) match {
          case (Some(a), c: Cast)
              if c.dataType == BinaryType && c.child.dataType == StringType =>
            compile(c.child, output).map(DigestHexS(a, _))
          case (None, _) => scala.Left("sha2 bit length must be a literal in {0,224,256,384,512}")
          case _ => scala.Left("unsupported sha2 input")
        }
      case hx: Hex =>
        hx.child.dataType match {
          case LongType | IntegerType | ShortType | ByteType =>
            VecLongExpr.compile(hx.child, output).map(HexLongS)
          case StringType => compile(hx.child, output).map(HexStrS)
          case other => scala.Left(s"unsupported hex input type $other")
        }
      case ch: Chr =>
        VecLongExpr.compile(ch.child, output).map(ChrS)
          .left.map(r => s"unsupported chr input: $r")
      case bn: Bin =>
        VecLongExpr.compile(bn.child, output).map(BinS)
          .left.map(r => s"unsupported bin input: $r")
      case rr: RegExpReplace =>
        (rr.regexp, rr.rep, rr.pos) match {
          case (Literal(pt: UTF8String, StringType), Literal(rp: UTF8String, StringType),
              Literal(1, IntegerType)) if pt != null && rp != null =>
            try {
              val compiled = java.util.regex.Pattern.compile(pt.toString)
              compile(rr.subject, output).map(RegexReplaceS(_, compiled, rp.toString))
            } catch { case _: java.util.regex.PatternSyntaxException =>
              scala.Left("invalid regexp_replace pattern stays on the row path") }
          case _ => scala.Left("regexp_replace needs literal pattern/replacement at pos 1")
        }
      case m: Md5 =>
        m.child match {
          // the analyzer's implicit string→binary cast: UTF-8 bytes,
          // identical in all eval modes — hash the string kernel directly
          case c: Cast if c.dataType == BinaryType && c.child.dataType == StringType =>
            compile(c.child, output).map(Md5HexS)
          case other =>
            scala.Left(s"unsupported md5 input: ${other.getClass.getSimpleName}")
        }
      case other =>
        scala.Left(s"unsupported string projection: ${other.getClass.getSimpleName}")
    }
  }
}

/** The one int-valued kernel: length(string) (Spark Length → numChars). */
final case class LengthI(c: VecStrExpr) extends Serializable {
  def eval(b: ColumnarBatch, n: Int, values: Array[Int], isNull: Array[Boolean],
      s: StrScratch): Unit = {
    val sv = s.s(n)
    c.eval(b, n, sv, isNull, s)
    var i = 0
    while (i < n) { values(i) = if (isNull(i)) 0 else sv(i).numChars(); i += 1 }
  }
}

/** A compiled computed-projection item: double, string, int, or
  * decimal kernel. */
/** Long-integer kernels: epoch/timestamp math (`ts div 1000`,
  * `timestamp_micros(...)`) — the conversion every nanos-ingested event
  * table runs in its scan projection. Only overflow-free shapes compile
  * (division by a positive literal; micros→timestamp is a value-identical
  * retype), so ANSI and LEGACY modes agree by construction.
  */
sealed trait VecLongExpr extends Serializable {
  def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit
}
final case class ColL(ord: Int) extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    val v = batch.column(ord)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) { isNull(i) = true; out(i) = 0L }
      else { isNull(i) = false; out(i) = v.getLong(i) }
      i += 1
    }
  }
}
final case class LitL(x: Long) extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    var i = 0
    while (i < n) { isNull(i) = false; out(i) = x; i += 1 }
  }
}
/** +, -, * on the long/int lane. LEGACY wraps (at INT width for
  * int-typed expressions — lane values are in-range by the static type,
  * so the int truncation is exact); ANSI calls Spark's own
  * MathUtils.{add,subtract,multiply}Exact with the EXPRESSION'S OWN
  * captured QueryContext, so an overflow raises the identical error the
  * row path raises, query fragment and all. The ANSI variants are the
  * lane's throwing kernels — eager CASE/IF branches and full-batch
  * filter compares reject them via the totality gate, and top-level
  * project/absorbed-agg-arg positions evaluate every row exactly like
  * the row path does. A/B sf0.1 interleaved min-of-9: the TPC-H Q9
  * sum(key*qty) shape 0.98x, int add 1.07x (scheduling noise on a
  * 0.1s query) — parity. Overflow-error parity is pinned by an
  * EngineSuite test. */
final case class ArithL(op: Int, l: VecLongExpr, r: VecLongExpr,
    isInt: Boolean, ansi: Boolean, ctx: org.apache.spark.QueryContext)
    extends VecLongExpr {
  import org.apache.spark.sql.catalyst.util.MathUtils
  @transient private[this] var rv: Array[Long] = null
  @transient private[this] var rn: Array[Boolean] = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    if (rv == null || rv.length < n) { rv = new Array[Long](n); rn = new Array[Boolean](n) }
    l.eval(batch, n, out, isNull)
    r.eval(batch, n, rv, rn)
    var i = 0
    while (i < n) {
      if (isNull(i) || rn(i)) { isNull(i) = true; out(i) = 0L }
      else {
        val a = out(i); val b = rv(i)
        out(i) =
          if (isInt) {
            val x = a.toInt; val y = b.toInt
            (op match {
              case 0 => if (ansi) MathUtils.addExact(x, y, ctx) else x + y
              case 1 => if (ansi) MathUtils.subtractExact(x, y, ctx) else x - y
              case _ => if (ansi) MathUtils.multiplyExact(x, y, ctx) else x * y
            }).toLong
          } else op match {
            case 0 => if (ansi) MathUtils.addExact(a, b, ctx) else a + b
            case 1 => if (ansi) MathUtils.subtractExact(a, b, ctx) else a - b
            case _ => if (ansi) MathUtils.multiplyExact(a, b, ctx) else a * b
          }
      }
      i += 1
    }
  }
}

/** Bitwise/shift ops on the long/int lane: AND(0) OR(1) XOR(2)
  * SHL(3) SHR(4) SHRU(5). No throw sites in any eval mode (Spark's
  * bitwise family has no ANSI variant; the JVM masks shift counts —
  * long by 63, int by 31 — exactly like the row expressions'
  * codegen operators). INT-typed shifts must compute in the int
  * domain: `intVal << 33` masks to `<< 1` and wraps in 32 bits,
  * which a widened-long computation would get wrong. */
final case class BitwiseL(op: Int, l: VecLongExpr, r: VecLongExpr, isInt: Boolean)
    extends VecLongExpr {
  @transient private[this] var rv: Array[Long] = null
  @transient private[this] var rn: Array[Boolean] = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    if (rv == null || rv.length < n) { rv = new Array[Long](n); rn = new Array[Boolean](n) }
    l.eval(batch, n, out, isNull)
    r.eval(batch, n, rv, rn)
    var i = 0
    while (i < n) {
      if (isNull(i) || rn(i)) { isNull(i) = true; out(i) = 0L }
      else {
        val a = out(i); val b = rv(i)
        out(i) =
          if (isInt) {
            val x = a.toInt; val y = b.toInt
            (op match {
              case 0 => x & y
              case 1 => x | y
              case 2 => x ^ y
              case 3 => x << y
              case 4 => x >> y
              case _ => x >>> y
            }).toLong
          } else op match {
            case 0 => a & b
            case 1 => a | b
            case 2 => a ^ b
            // the SHIFT COUNT is always int-typed in Spark — toInt of
            // the widened lane value is exact
            case 3 => a << b.toInt
            case 4 => a >> b.toInt
            case _ => a >>> b.toInt
          }
      }
      i += 1
    }
  }
}

/** Bitwise NOT on the long/int lane. */
final case class BitwiseNotL(c: VecLongExpr, isInt: Boolean) extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    c.eval(batch, n, out, isNull)
    var i = 0
    while (i < n) {
      if (!isNull(i)) out(i) = if (isInt) (~out(i).toInt).toLong else ~out(i)
      i += 1
    }
  }
}

/** bit_count on the long/int lane. The count must run in the CHILD's
  * domain: the lane's widened long sign-extends a negative int, and
  * Long.bitCount of that reads 32 phantom ones. */
final case class BitCountL(c: VecLongExpr, childIsInt: Boolean) extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    c.eval(batch, n, out, isNull)
    var i = 0
    while (i < n) {
      if (!isNull(i)) out(i) =
        (if (childIsInt) java.lang.Integer.bitCount(out(i).toInt)
        else java.lang.Long.bitCount(out(i))).toLong
      i += 1
    }
  }
}

/** bit_get(col, literalPos) — ((v >> pos) & 1); the position is
  * validated against the CHILD type's width at compile (BitwiseGet's
  * checkPosition throw site disappears for in-range literals). Bits
  * 0..31 of a sign-extended int survive the widening, so one long
  * shift serves both widths. */
final case class BitGetL(c: VecLongExpr, pos: Int) extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    c.eval(batch, n, out, isNull)
    var i = 0
    while (i < n) {
      if (!isNull(i)) out(i) = (out(i) >> pos) & 1L
      i += 1
    }
  }
}

/** abs on the long/int lane. LEGACY wraps at MinValue (math.abs);
  * ANSI throws through MathUtils.negateExact — the EXACT call
  * Long/IntegerExactNumeric.negate makes in the row path's
  * numeric.abs, so the error is Spark's own. A throw site ⇒ excluded
  * from full-batch filter/compare use by the totality gate. */
final case class AbsL(c: VecLongExpr, isInt: Boolean, ansi: Boolean) extends VecLongExpr {
  import org.apache.spark.sql.catalyst.util.MathUtils
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    c.eval(batch, n, out, isNull)
    var i = 0
    while (i < n) {
      if (!isNull(i)) {
        val v = out(i)
        out(i) =
          if (isInt) {
            val x = v.toInt
            (if (x >= 0) x else if (ansi) MathUtils.negateExact(x) else -x).toLong
          } else {
            if (v >= 0) v else if (ansi) MathUtils.negateExact(v) else -v
          }
      }
      i += 1
    }
  }
}

/** coalesce on the long/int lane — first non-null child per row. The
  * row path evaluates later arguments LAZILY (only for rows where all
  * earlier ones were null), so eager full-batch evaluation requires
  * every child to be total — enforced at compile. */
final case class CoalesceL(cs: Seq[VecLongExpr]) extends VecLongExpr {
  @transient private[this] var tv: Array[Long] = null
  @transient private[this] var tn: Array[Boolean] = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    cs.head.eval(batch, n, out, isNull)
    if (cs.length > 1) {
      if (tv == null || tv.length < n) { tv = new Array[Long](n); tn = new Array[Boolean](n) }
      var k = 1
      while (k < cs.length) {
        var any = false
        var i = 0
        while (i < n && !any) { any = isNull(i); i += 1 }
        if (any) {
          cs(k).eval(batch, n, tv, tn)
          i = 0
          while (i < n) {
            if (isNull(i) && !tn(i)) { out(i) = tv(i); isNull(i) = false }
            i += 1
          }
        }
        k += 1
      }
    }
  }
}

/** x % d for a NON-ZERO literal divisor — the salting/bucketing key
  * shape. JVM `%` (sign follows the dividend) is exactly Spark's
  * integral Remainder in every eval mode once the only throw/null site
  * (zero divisor) is excluded by the literal gate. Total. */
final case class RemL(c: VecLongExpr, d: Long) extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    c.eval(batch, n, out, isNull)
    var i = 0
    while (i < n) { out(i) = out(i) % d; i += 1 }
  }
}

final case class DivL(c: VecLongExpr, d: Long) extends VecLongExpr {
  // d > 0 gated at compile: no divide-by-zero, no Long.MinValue/-1 overflow
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    c.eval(batch, n, out, isNull)
    var i = 0
    while (i < n) { if (!isNull(i)) out(i) = out(i) / d; i += 1 }
  }
}
/** Calendar field extraction on the long lane: the input is epoch DAYS
  * (date ops 0-7) or MICROS (time ops 8-10 resolved against the
  * expression's own zone id; 11-13 the zone-free NTZ variants). Each
  * opcode calls the SAME DateTimeUtils function the Catalyst
  * expression's eval and codegen call — per-row calendar math like the
  * row path, the win is batch locality. Total (no throw sites).
  * A/B sf0.1 interleaved min-of-9: field-extraction sum 0.95x,
  * date-arith chain 0.92x. Edge parity (pre-epoch, leap day, Gregorian
  * cutover, nulls) pinned in EngineSuite. */
final case class DateFieldL(op: Int, c: VecLongExpr, zoneId: String) extends VecLongExpr {
  @transient private lazy val zone: java.time.ZoneId =
    if (zoneId == null) null
    else org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(zoneId)
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils._
    c.eval(batch, n, out, isNull)
    val z = zone
    var i = 0
    while (i < n) {
      if (!isNull(i)) {
        val x = out(i)
        out(i) = (op match {
          case 0 => getYear(x.toInt)
          case 1 => getMonth(x.toInt)
          case 2 => getDayOfMonth(x.toInt)
          case 3 => getDayOfWeek(x.toInt)
          case 4 => getWeekDay(x.toInt)
          case 5 => getDayInYear(x.toInt)
          case 6 => getWeekOfYear(x.toInt)
          case 7 => getQuarter(x.toInt)
          case 8 => getHours(x, z)
          case 9 => getMinutes(x, z)
          case 10 => getSeconds(x, z)
          case 11 => getHoursOfTime(x)
          case 12 => getMinutesOfTime(x)
          case 13 => getSecondsOfTime(x)
          case _ => getLastDayOfMonth(x.toInt)
        }).toLong
      }
      i += 1
    }
  }
}

/** floorDiv on the long lane (unix_timestamp(ts) = floorDiv(micros,
  * 1e6)); non-zero literal divisor gated at compile — total. */
final case class FloorDivL(c: VecLongExpr, d: Long) extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    c.eval(batch, n, out, isNull)
    var i = 0
    while (i < n) { if (!isNull(i)) out(i) = Math.floorDiv(out(i), d); i += 1 }
  }
}

final case class MicrosToDaysL(c: VecLongExpr) extends VecLongExpr {
  // timestamp→date under UTC: floorDiv micros to whole days (floorDiv,
  // not /, so pre-epoch instants land on the correct earlier day)
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    c.eval(batch, n, out, isNull)
    var i = 0
    while (i < n) {
      if (!isNull(i)) out(i) = Math.floorDiv(out(i), 86400L * 1000L * 1000L)
      i += 1
    }
  }
}
final case class FloorMultOffL(c: VecLongExpr, m: Long, off: Long) extends VecLongExpr {
  // floor-to-multiple with an alignment offset: date_trunc over UTC
  // micros (m = unit micros; off = 0, or the Monday alignment for WEEK).
  // The naive floorDiv(x - off, m) * m + off wraps when x is within
  // `off` of Long.MIN (WEEK's off is 4 days of micros), so compute the
  // equivalent x - floorMod(x - off, m) with the inner mod reduced
  // safely: floorMod(x - off, m) == norm(floorMod(x, m) - floorMod(off,
  // m)) — both operands < m, no overflow for any x. floorMod (not %)
  // keeps pre-epoch timestamps truncating DOWNWARD — the same value
  // Spark's calendar truncation produces under UTC. (If the true
  // truncated instant itself is below Long.MIN micros it is not
  // representable; Spark's row path throws on the days→micros multiply
  // there, and such instants are outside Spark's timestamp domain.)
  private val offMod = Math.floorMod(off, m)
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    c.eval(batch, n, out, isNull)
    var i = 0
    while (i < n) {
      if (!isNull(i)) {
        var adj = Math.floorMod(out(i), m) - offMod
        if (adj < 0) adj += m
        out(i) -= adj
      }
      i += 1
    }
  }
}
/** Narrow integral column read as long — byte/short/int widths widen
  * exactly (the IN-lane representation is always long; the output vector
  * re-narrows through its typed accessor). */
final case class ColIntL(ord: Int, dt: DataType) extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    val v = batch.column(ord)
    var i = 0
    dt match {
      case ShortType =>
        while (i < n) {
          if (v.isNullAt(i)) { isNull(i) = true; out(i) = 0L }
          else { isNull(i) = false; out(i) = v.getShort(i).toLong }
          i += 1
        }
      case ByteType =>
        while (i < n) {
          if (v.isNullAt(i)) { isNull(i) = true; out(i) = 0L }
          else { isNull(i) = false; out(i) = v.getByte(i).toLong }
          i += 1
        }
      case _ => // IntegerType | DateType
        while (i < n) {
          if (v.isNullAt(i)) { isNull(i) = true; out(i) = 0L }
          else { isNull(i) = false; out(i) = v.getInt(i).toLong }
          i += 1
        }
    }
  }
}

/** size(arrayColumn): a numElements read — view-only. Null arrays follow
  * the EXPRESSION's own resolved legacySizeOfNull flag (-1 vs NULL), so
  * conf drift can't desync the kernel from the row path. */
final case class SizeArrL(ord: Int, legacyNull: Boolean) extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    val v = batch.column(ord)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) {
        if (legacyNull) { isNull(i) = false; out(i) = -1L }
        else { isNull(i) = true; out(i) = 0L }
      } else { isNull(i) = false; out(i) = v.getArray(i).numElements().toLong }
      i += 1
    }
  }
}

/** size(split(str, c, -1)) WITHOUT materializing the array: for a
  * single-char non-metachar literal pattern the regex matches exactly
  * that character, so the split length is occurrences(c) + 1 — the
  * token-count shape (`size(split(text, ' '))`) counts delimiter bytes
  * over the UTF-8 buffer (an ASCII byte never appears inside a
  * multibyte sequence) where the codegen row path allocates the full
  * UTF8String[] only to take its length. */
final case class CountTokenSizeL(c: VecStrExpr, delim: Byte, legacyNull: Boolean)
    extends VecLongExpr {
  @transient private[this] var sv: Array[UTF8String] = null
  @transient private[this] var scratch: StrScratch = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    if (sv == null || sv.length < n) sv = new Array[UTF8String](n)
    if (scratch == null) scratch = new StrScratch
    scratch.reset()
    c.eval(batch, n, sv, isNull, scratch)
    var i = 0
    while (i < n) {
      if (isNull(i)) {
        if (legacyNull) { isNull(i) = false; out(i) = -1L }
      } else {
        val s = sv(i)
        var cnt = 1L
        var j = 0
        val nb = s.numBytes()
        while (j < nb) { if (s.getByte(j) == delim) cnt += 1; j += 1 }
        out(i) = cnt
      }
      i += 1
    }
  }
}

/** Bridge: a DOUBLE-lane kernel consumed as a cast to long.
  * LEGACY = exactly Java's `(long) d` (truncate toward zero, NaN -> 0,
  * ±Inf clamp) — what the row codegen emits. ANSI replicates Cast's
  * exact guard (`Math.floor(d) <= Long.MaxValue && Math.ceil(d) >=
  * Long.MinValue`, NaN fails both) and raises the same overflow error
  * — making this the lane's only THROWING kernel, so it is barred from
  * eagerly-evaluated CaseWhenL branches and from full-batch filter use
  * by the totality gate. TRY (nulls on failure) stays on the row path.
  * Census: the cast(round(money*100) as bigint) cents shape in 8
  * window queries. A/B sf0.1 min-of-7: 0.94x on q184's cents window.
  */
final case class DblToLongL(c: VecNumExpr, ansi: Boolean) extends VecLongExpr {
  @transient private[this] var dv: Array[Double] = null
  @transient private[this] var scratch: VecScratch = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    if (dv == null || dv.length < n) dv = new Array[Double](n)
    if (scratch == null) scratch = new VecScratch
    scratch.reset()
    c.eval(batch, n, dv, isNull, scratch)
    var i = 0
    while (i < n) {
      val d = dv(i)
      if (ansi && !isNull(i) &&
          !(Math.floor(d) <= Long.MaxValue.toDouble && Math.ceil(d) >= Long.MinValue.toDouble))
        throw org.apache.spark.sql.errors.QueryExecutionErrors
          .castingCauseOverflowError(d, DoubleType, LongType)
      out(i) = d.toLong
      i += 1
    }
  }
}

/** instr(str, literal substr) — UTF8String.indexOf + 1 (1-based, 0
  * when absent), the exact StringInstr.nullSafeEval. */
final case class InstrL(c: VecStrExpr, sub: UTF8String) extends VecLongExpr {
  @transient private[this] var sv: Array[UTF8String] = null
  @transient private[this] var scratch: StrScratch = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    if (sv == null || sv.length < n) sv = new Array[UTF8String](n)
    if (scratch == null) scratch = new StrScratch
    scratch.reset()
    c.eval(batch, n, sv, isNull, scratch)
    var i = 0
    while (i < n) {
      if (!isNull(i)) out(i) = (sv(i).indexOf(sub, 0) + 1).toLong
      i += 1
    }
  }
}

/** ascii(str) — first character's code point (Ascii.nullSafeEval's
  * substring(0,1).codePointAt(0), 0 for the empty string). */
final case class AsciiL(c: VecStrExpr) extends VecLongExpr {
  @transient private[this] var sv: Array[UTF8String] = null
  @transient private[this] var scratch: StrScratch = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    if (sv == null || sv.length < n) sv = new Array[UTF8String](n)
    if (scratch == null) scratch = new StrScratch
    scratch.reset()
    c.eval(batch, n, sv, isNull, scratch)
    var i = 0
    while (i < n) {
      if (!isNull(i)) {
        val first = sv(i).substring(0, 1)
        out(i) = if (first.numBytes > 0) first.toString.codePointAt(0).toLong else 0L
      }
      i += 1
    }
  }
}

/** murmur3/xxhash64 over attribute children — chained through Spark's
  * own Murmur3HashFunction/XxHash64Function statics with each child's
  * ORIGINAL type (an int hashes differently from its widened long).
  * Null children leave the running hash unchanged; the result is never
  * null — exactly HashExpression.eval. */
final case class HashExprL(seed: Long, xx: Boolean,
    children: Seq[(Int, DataType)]) extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    val cols = children.map { case (ord, _) => batch.column(ord) }
    var i = 0
    while (i < n) {
      var h = seed
      var c = 0
      while (c < children.size) {
        val (_, dt) = children(c)
        val v = cols(c)
        if (!v.isNullAt(i)) {
          val boxed: Any = dt match {
            case StringType => v.getUTF8String(i)
            case LongType | TimestampType | TimestampNTZType => v.getLong(i)
            case IntegerType | DateType => v.getInt(i)
            case ShortType => v.getShort(i)
            case ByteType => v.getByte(i)
            case DoubleType => v.getDouble(i)
            case FloatType => v.getFloat(i)
            case BooleanType => v.getBoolean(i)
            case other => throw new IllegalStateException(s"unhashable: $other")
          }
          h = if (xx)
            org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(boxed, dt, h)
          else
            org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
              .hash(boxed, dt, h).toInt.toLong
        }
        c += 1
      }
      isNull(i) = false
      out(i) = h
      i += 1
    }
  }
}

/** bit_length/octet_length of a string — numBytes (×8). */
final case class ByteLenL(c: VecStrExpr, bits: Boolean) extends VecLongExpr {
  @transient private[this] var sv: Array[UTF8String] = null
  @transient private[this] var scratch: StrScratch = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    if (sv == null || sv.length < n) sv = new Array[UTF8String](n)
    if (scratch == null) scratch = new StrScratch
    scratch.reset()
    c.eval(batch, n, sv, isNull, scratch)
    var i = 0
    while (i < n) {
      if (!isNull(i)) out(i) = (if (bits) sv(i).numBytes * 8 else sv(i).numBytes).toLong
      i += 1
    }
  }
}

/** crc32 over a string's UTF-8 bytes — java.util.zip.CRC32, the exact
  * implementation the row expression wraps. */
final case class Crc32L(c: VecStrExpr) extends VecLongExpr {
  @transient private[this] var sv: Array[UTF8String] = null
  @transient private[this] var scratch: StrScratch = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    if (sv == null || sv.length < n) sv = new Array[UTF8String](n)
    if (scratch == null) scratch = new StrScratch
    scratch.reset()
    c.eval(batch, n, sv, isNull, scratch)
    val crc = new java.util.zip.CRC32()
    var i = 0
    while (i < n) {
      if (!isNull(i)) {
        crc.reset()
        val bts = sv(i).getBytes
        crc.update(bts, 0, bts.length)
        out(i) = crc.getValue
      }
      i += 1
    }
  }
}

/** ceil/floor of a double down to the lane: `math.ceil(d).toLong` —
  * exactly Ceil/Floor.nullSafeEval for a DoubleType child (the Scala
  * Double→Long conversion saturates like the codegen's Java cast; no
  * eval modes, no throw sites). */
final case class CeilFloorL(c: VecNumExpr, isCeil: Boolean) extends VecLongExpr {
  @transient private[this] var dv: Array[Double] = null
  @transient private[this] var scratch: VecScratch = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    if (dv == null || dv.length < n) dv = new Array[Double](n)
    if (scratch == null) scratch = new VecScratch
    scratch.reset()
    c.eval(batch, n, dv, isNull, scratch)
    var i = 0
    while (i < n) {
      out(i) = (if (isCeil) Math.ceil(dv(i)) else Math.floor(dv(i))).toLong
      i += 1
    }
  }
}

/** long-family→INT narrowing cast: LEGACY wraps (the codegen's (int)
  * cast), ANSI throws Spark's exact overflow error when the value
  * doesn't round-trip. */
final case class NarrowToIntL(c: VecLongExpr, ansi: Boolean, from: DataType)
    extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    c.eval(batch, n, out, isNull)
    var i = 0
    while (i < n) {
      if (!isNull(i)) {
        val v = out(i)
        val t = v.toInt
        if (ansi && t.toLong != v)
          throw org.apache.spark.sql.errors.QueryExecutionErrors
            .castingCauseOverflowError(v, from, IntegerType)
        out(i) = t.toLong
      }
      i += 1
    }
  }
}

/** double→INT cast on the lane: LEGACY truncates in the INT domain
  * (d.toInt — saturates then wraps nothing; Scala's toInt == the
  * codegen's (int) cast), ANSI replicates Cast's exact int-range
  * guard. Same full-batch totality caveats as [[DblToLongL]]. */
final case class DblToIntL(c: VecNumExpr, ansi: Boolean) extends VecLongExpr {
  @transient private[this] var dv: Array[Double] = null
  @transient private[this] var scratch: VecScratch = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    if (dv == null || dv.length < n) dv = new Array[Double](n)
    if (scratch == null) scratch = new VecScratch
    scratch.reset()
    c.eval(batch, n, dv, isNull, scratch)
    var i = 0
    while (i < n) {
      val d = dv(i)
      if (ansi && !isNull(i) &&
          !(Math.floor(d) <= Int.MaxValue.toDouble && Math.ceil(d) >= Int.MinValue.toDouble))
        throw org.apache.spark.sql.errors.QueryExecutionErrors
          .castingCauseOverflowError(d, DoubleType, IntegerType)
      out(i) = d.toInt.toLong
      i += 1
    }
  }
}

/** length(string) on the long/int lane (numChars — the same value
  * [[LengthI]] computes for the dedicated int kernel; here it composes
  * with the lane's conditionals, casts and compares). */
final case class LengthL(c: VecStrExpr) extends VecLongExpr {
  @transient private[this] var sv: Array[UTF8String] = null
  @transient private[this] var scratch: StrScratch = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    if (sv == null || sv.length < n) sv = new Array[UTF8String](n)
    if (scratch == null) scratch = new StrScratch
    scratch.reset()
    c.eval(batch, n, sv, isNull, scratch)
    var i = 0
    while (i < n) {
      if (!isNull(i)) out(i) = sv(i).numChars().toLong
      i += 1
    }
  }
}

/** least/greatest over long-lane children: SKIP-null semantics (null
  * only when every input is null — Least/Greatest, not the comparison
  * operators' null-poisoning). Total: no throw sites, so it composes
  * under the lane's eager CaseWhenL. */
final case class ExtremumL(cs: Seq[VecLongExpr], greatest: Boolean) extends VecLongExpr {
  @transient private[this] var tv: Array[Long] = null
  @transient private[this] var tn: Array[Boolean] = null
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    cs.head.eval(batch, n, out, isNull)
    if (tv == null || tv.length < n) { tv = new Array[Long](n); tn = new Array[Boolean](n) }
    cs.tail.foreach { c =>
      c.eval(batch, n, tv, tn)
      var i = 0
      while (i < n) {
        if (!tn(i)) {
          if (isNull(i) || (if (greatest) tv(i) > out(i) else tv(i) < out(i))) {
            out(i) = tv(i); isNull(i) = false
          }
        }
        i += 1
      }
    }
  }
}

/** NULL integral literal — reachable only inside a conditional. */
final case class NullL() extends VecLongExpr {
  override def eval(batch: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    java.util.Arrays.fill(out, 0, n, 0L)
    java.util.Arrays.fill(isNull, 0, n, true)
  }
}

/** CASE WHEN / If over long/int branches — the conditional COUNT/FLAG
  * aggregation argument (TPC-H Q12's `sum(CASE WHEN … THEN 1 ELSE 0)`).
  * Every kernel on this lane is TOTAL (column reads, literals,
  * positive-literal div, floor math — no ANSI throw sites), so branches
  * evaluate EAGERLY over the whole batch and selection is a plain copy:
  * no mask plumb-through is needed, unlike the decimal lanes whose
  * branch bodies contain throwing cast sites. Per-task temps live on
  * the (task-deserialized, single-threaded) instance.
  */
final case class CaseWhenL(branches: Seq[(VecPredicate, VecLongExpr)], els: Option[VecLongExpr])
    extends VecLongExpr {
  @transient private[this] var tv: Array[Long] = null
  @transient private[this] var bufs: Array[Array[Boolean]] = null
  private def longs(n: Int): Array[Long] = {
    if (tv == null || tv.length < n) tv = new Array[Long](n)
    tv
  }
  private def bools(k: Int, n: Int): Array[Boolean] = {
    if (bufs == null) bufs = new Array[Array[Boolean]](4)
    if (bufs(k) == null || bufs(k).length < n) bufs(k) = new Array[Boolean](n)
    bufs(k)
  }
  override def eval(b: ColumnarBatch, n: Int, out: Array[Long], isNull: Array[Boolean]): Unit = {
    java.util.Arrays.fill(out, 0, n, 0L)
    java.util.Arrays.fill(isNull, 0, n, true)
    val undecided = bools(0, n)
    java.util.Arrays.fill(undecided, 0, n, true)
    val tvv = longs(n)
    branches.foreach { case (p, v) =>
      val pv = bools(1, n); val pn = bools(2, n)
      p.eval(b, null, n, pv, pn)
      val tn = bools(3, n)
      v.eval(b, n, tvv, tn)
      var i = 0
      while (i < n) {
        if (undecided(i) && pv(i) && !pn(i)) {
          undecided(i) = false; out(i) = tvv(i); isNull(i) = tn(i)
        }
        i += 1
      }
    }
    els.foreach { e =>
      val tn = bools(3, n)
      e.eval(b, n, tvv, tn)
      var i = 0
      while (i < n) {
        if (undecided(i)) { out(i) = tvv(i); isNull(i) = tn(i) }
        i += 1
      }
    }
  }
}

object VecLongExpr {
  /** column types [[HashExprL]] hashes with Spark's own hash statics */
  val HashExprLTypes: Set[DataType] = Set(StringType, LongType, IntegerType,
    ShortType, ByteType, DoubleType, FloatType, BooleanType, DateType,
    TimestampType, TimestampNTZType)
  private def intFamily(dt: DataType): Boolean =
    dt == IntegerType || dt == ShortType || dt == ByteType
  private def laneType(dt: DataType): Boolean = dt == LongType || intFamily(dt)

  /** Totality gate for full-batch FILTER use (mirror of
    * [[VecStrExpr.total]]): ComputedLongCmp evaluates kernels over the
    * WHOLE batch, so only throw-free-on-any-input kernels may serve as
    * filter operands. Explicit whitelist — a future kernel with an ANSI
    * throw site (overflowing Add/Multiply, narrowing cast) stays row-path
    * in filters until proven total here. DivL is total because compile
    * only admits positive literal divisors; FloorMultOffL floor math has
    * no throw site; CaseWhenL is total when its branch values and else
    * are (its predicates come from the same total predicate language). */
  def total(k: VecLongExpr): Boolean = k match {
    case ColL(_) | LitL(_) | NullL() | ColIntL(_, _) => true
    case SizeArrL(_, _) => true
    case DivL(c, _) => total(c)
    case RemL(c, _) => total(c)
    case DateFieldL(_, c, _) => total(c)
    case FloorDivL(c, _) => total(c)
    case ArithL(_, l, r, _, ansi, _) => !ansi && total(l) && total(r)
    case CoalesceL(cs) => cs.forall(total)
    case MicrosToDaysL(c) => total(c)
    case FloorMultOffL(c, _, _) => total(c)
    case CountTokenSizeL(c, _, _) => VecStrExpr.total(c)
    case LengthL(c) => VecStrExpr.total(c)
    case DblToLongL(c, ansi) => !ansi && VecNumExpr.total(c)
    case DblToIntL(c, ansi) => !ansi && VecNumExpr.total(c)
    case NarrowToIntL(c, ansi, _) => !ansi && total(c)
    case ExtremumL(cs, _) => cs.forall(total)
    case CaseWhenL(bs, e) => bs.forall(b => total(b._2)) && e.forall(total)
    case BitwiseL(_, l, r, _) => total(l) && total(r)
    case BitwiseNotL(c, _) => total(c)
    case BitCountL(c, _) => total(c)
    case BitGetL(c, _) => total(c)
    case ByteLenL(c, _) => VecStrExpr.total(c)
    case Crc32L(c) => VecStrExpr.total(c)
    case InstrL(c, _) => VecStrExpr.total(c)
    case AsciiL(c) => VecStrExpr.total(c)
    case HashExprL(_, _, _) => true
    case AbsL(c, _, ansi) => !ansi && total(c)
    case CeilFloorL(c, _) => VecNumExpr.total(c)
    case _ => false
  }

  def compile(e: Expression, output: Seq[Attribute]): Either[String, VecLongExpr] = {
    def ord(a: AttributeReference): Int = output.indexWhere(_.exprId == a.exprId)
    e match {
      case a: AttributeReference
          if (a.dataType == LongType || a.dataType == TimestampType ||
            a.dataType == TimestampNTZType) && ord(a) >= 0 =>
        scala.Right(ColL(ord(a)))
      case a: AttributeReference if intFamily(a.dataType) && ord(a) >= 0 =>
        scala.Right(ColIntL(ord(a), a.dataType))
      case Literal(l: Long, LongType) => scala.Right(LitL(l))
      case Literal(i: Int, IntegerType) => scala.Right(LitL(i.toLong))
      case Literal(s: Short, ShortType) => scala.Right(LitL(s.toLong))
      case Literal(x: Byte, ByteType) => scala.Right(LitL(x.toLong))
      case Literal(null, dt) if laneType(dt) => scala.Right(NullL())
      // widening integral cast: exact in every eval mode
      case c: Cast if c.dataType == LongType && intFamily(c.child.dataType) =>
        compile(c.child, output)
      // double→long cast: bridge the double lane. LEGACY truncates
      // (total); ANSI replicates Cast's exact overflow guard (throwing
      // — barred from eager CaseWhenL branches and filters by the
      // totality gates); TRY (null on failure) stays row. The bridge
      // evaluates its subtree full-batch with a fresh scratch (the
      // outer lazy mask does not plumb through), so only TOTAL double
      // subtrees are admitted.
      case c: Cast if c.dataType == LongType &&
          (c.child.dataType == DoubleType || c.child.dataType == FloatType) &&
          c.evalMode != EvalMode.TRY =>
        VecNumExpr.compile(c.child, output).flatMap { k =>
          if (VecNumExpr.total(k))
            scala.Right(DblToLongL(k, c.evalMode == EvalMode.ANSI))
          else scala.Left("non-total double subtree under the cast-to-long bridge")
        }
      case c: Cast if c.dataType == IntegerType &&
          (c.child.dataType == LongType || c.child.dataType == IntegerType ||
            c.child.dataType == ShortType || c.child.dataType == ByteType) &&
          c.evalMode != EvalMode.TRY =>
        // int-family widths below int are identity on the widened lane
        if (c.child.dataType == LongType)
          compile(c.child, output).map(NarrowToIntL(_, c.evalMode == EvalMode.ANSI, LongType))
        else compile(c.child, output)
      case c: Cast if c.dataType == IntegerType &&
          (c.child.dataType == DoubleType || c.child.dataType == FloatType) &&
          c.evalMode != EvalMode.TRY =>
        VecNumExpr.compile(c.child, output).flatMap { k =>
          if (VecNumExpr.total(k))
            scala.Right(DblToIntL(k, c.evalMode == EvalMode.ANSI))
          else scala.Left("non-total double subtree under the cast-to-int bridge")
        }
      case l: Length if l.child.dataType == StringType =>
        VecStrExpr.compile(l.child, output).map(LengthL)
      case bl: BitLength if bl.child.dataType == StringType =>
        VecStrExpr.compile(bl.child, output).map(ByteLenL(_, bits = true))
      case ol: OctetLength if ol.child.dataType == StringType =>
        VecStrExpr.compile(ol.child, output).map(ByteLenL(_, bits = false))
      case si: StringInstr =>
        si.substr match {
          case Literal(sub: UTF8String, StringType) if sub != null =>
            VecStrExpr.compile(si.str, output).map(InstrL(_, sub))
          case _ => scala.Left("instr needs a literal substring")
        }
      case asc: Ascii if asc.child.dataType == StringType =>
        VecStrExpr.compile(asc.child, output).map(AsciiL)
      case mh: Murmur3Hash if mh.children.forall {
          case a: AttributeReference => ord(a) >= 0 &&
            HashExprLTypes(a.dataType)
          case _ => false } =>
        scala.Right(HashExprL(mh.seed.toLong, xx = false,
          mh.children.map { case a: AttributeReference => (ord(a), a.dataType) }))
      case xh: XxHash64 if xh.children.forall {
          case a: AttributeReference => ord(a) >= 0 &&
            HashExprLTypes(a.dataType)
          case _ => false } =>
        scala.Right(HashExprL(xh.seed, xx = true,
          xh.children.map { case a: AttributeReference => (ord(a), a.dataType) }))
      case cr: Crc32 =>
        cr.child match {
          case c: Cast if c.dataType == BinaryType && c.child.dataType == StringType =>
            VecStrExpr.compile(c.child, output).map(Crc32L)
          case other =>
            scala.Left(s"unsupported crc32 input: ${other.getClass.getSimpleName}")
        }
      case le: Least if laneType(le.dataType) =>
        val parts = le.children.map(compile(_, output))
        parts.collectFirst { case scala.Left(r) => scala.Left(r) }
          .getOrElse(scala.Right(
            ExtremumL(parts.collect { case scala.Right(k) => k }, greatest = false)))
      case gr: Greatest if laneType(gr.dataType) =>
        val parts = gr.children.map(compile(_, output))
        parts.collectFirst { case scala.Left(r) => scala.Left(r) }
          .getOrElse(scala.Right(
            ExtremumL(parts.collect { case scala.Right(k) => k }, greatest = true)))
      case s: Size =>
        s.child match {
          case a: AttributeReference
              if a.dataType.isInstanceOf[ArrayType] && ord(a) >= 0 =>
            scala.Right(SizeArrL(ord(a), s.legacySizeOfNull))
          case sp: StringSplit =>
            (sp.regex, sp.limit) match {
              case (Literal(p: UTF8String, StringType), Literal(-1, IntegerType))
                  if p != null && p.numBytes == 1 && {
                    val ch = p.getByte(0).toChar
                    ch < 0x80 && !"\\^$.|?*+()[]{}".contains(ch)
                  } =>
                VecStrExpr.compile(sp.str, output)
                  .map(CountTokenSizeL(_, p.getByte(0), s.legacySizeOfNull))
              case _ =>
                scala.Left("size(split(...)) only counts single-char literal delimiters")
            }
          case other =>
            scala.Left(s"unsupported size input: ${other.getClass.getSimpleName}")
        }
      case d: org.apache.spark.sql.catalyst.expressions.IntegralDivide
          if d.dataType == LongType =>
        d.right match {
          case Literal(div: Long, LongType) if div > 0 =>
            compile(d.left, output).map(DivL(_, div))
          case other =>
            scala.Left(s"unsupported integral divisor: $other (positive literal only)")
        }
      // +,-,* on int/long (the sum(cost * qty) Q9 shape): LEGACY wraps,
      // ANSI throws through Spark's own MathUtils with the expression's
      // captured context. Byte/short stay row (their exact-overflow
      // widths have no MathUtils twin).
      case b: BinaryArithmetic
          if (b.dataType == LongType || b.dataType == IntegerType) &&
            b.evalMode != EvalMode.TRY &&
            (b.isInstanceOf[Add] || b.isInstanceOf[Subtract] ||
              b.isInstanceOf[Multiply]) =>
        val opc = b match {
          case _: Add => 0
          case _: Subtract => 1
          case _ => 2
        }
        for { l <- compile(b.left, output); r <- compile(b.right, output) }
          yield ArithL(opc, l, r, isInt = b.dataType == IntegerType,
            ansi = b.evalMode == EvalMode.ANSI, ctx = b.getContextOrNull())
      // date attribute reads: epoch days through the int channel
      case a: AttributeReference if a.dataType == DateType && ord(a) >= 0 =>
        scala.Right(ColIntL(ord(a), DateType))
      // timestamp→date cast inside the lane (zone-free for ntz, UTC
      // only for ltz — same admissibility as the DateKernel dispatch)
      case c: Cast if c.dataType == DateType &&
          (c.child.dataType == TimestampNTZType ||
            (c.child.dataType == TimestampType && c.timeZoneId.exists(z =>
              java.time.ZoneId.of(z).normalized() == java.time.ZoneOffset.UTC))) =>
        compile(c.child, output).map(MicrosToDaysL)
      // calendar field extraction — each via the exact DateTimeUtils
      // function the row expression calls
      case f @ (_: Year | _: Month | _: DayOfMonth | _: DayOfWeek | _: WeekDay |
          _: DayOfYear | _: WeekOfYear | _: Quarter)
          if f.asInstanceOf[UnaryExpression].child.dataType == DateType =>
        val child = f.asInstanceOf[UnaryExpression].child
        val opc = f match {
          case _: Year => 0
          case _: Month => 1
          case _: DayOfMonth => 2
          case _: DayOfWeek => 3
          case _: WeekDay => 4
          case _: DayOfYear => 5
          case _: WeekOfYear => 6
          case _ => 7
        }
        compile(child, output).map(DateFieldL(opc, _, null))
      case h: Hour if h.child.dataType == TimestampType && h.timeZoneId.isDefined =>
        compile(h.child, output).map(DateFieldL(8, _, h.timeZoneId.get))
      case mi: Minute if mi.child.dataType == TimestampType && mi.timeZoneId.isDefined =>
        compile(mi.child, output).map(DateFieldL(9, _, mi.timeZoneId.get))
      case sc: Second if sc.child.dataType == TimestampType && sc.timeZoneId.isDefined =>
        compile(sc.child, output).map(DateFieldL(10, _, sc.timeZoneId.get))
      case h: Hour if h.child.dataType == TimestampNTZType =>
        compile(h.child, output).map(DateFieldL(11, _, null))
      case mi: Minute if mi.child.dataType == TimestampNTZType =>
        compile(mi.child, output).map(DateFieldL(12, _, null))
      case sc: Second if sc.child.dataType == TimestampNTZType =>
        compile(sc.child, output).map(DateFieldL(13, _, null))
      // unix_date(d) IS the epoch-day value — identity on the lane,
      // and date_from_unix_date is its inverse identity
      case u: UnixDate => compile(u.child, output)
      case u: DateFromUnixDate => compile(u.child, output)
      // datediff(end, start) = plain int subtraction of epoch days
      case d: DateDiff =>
        for { e <- compile(d.endDate, output); s <- compile(d.startDate, output) }
          yield ArithL(1, e, s, isInt = true, ansi = false, ctx = null)
      // temporal literals carry their micros/days in the lane directly
      case Literal(l: Long, TimestampType | TimestampNTZType) => scala.Right(LitL(l))
      case Literal(i: Int, DateType) => scala.Right(LitL(i.toLong))
      case Literal(null, TimestampType | TimestampNTZType | DateType) =>
        scala.Right(NullL())
      // last_day(d): the month-end day via the same DateTimeUtils call
      case ld: LastDay => compile(ld.startDate, output).map(DateFieldL(14, _, null))
      // unix_timestamp over an already-typed timestamp ignores its
      // format string: floorDiv(micros, 1e6)
      case ut: UnixTimestamp if ut.timeExp.dataType == TimestampType =>
        compile(ut.timeExp, output).map(FloorDivL(_, 1000000L))
      // unix_micros IS the stored micros (identity retype);
      // unix_millis/unix_seconds are its floorDivs — the exact
      // DateTimeUtils calls the TimestampToLongBase evals make
      case u: UnixMicros => compile(u.child, output)
      // ntz→ltz retype under UTC inside the lane (the events-table
      // cast below unix_micros/unix_millis): value-identical micros
      case c: Cast if c.dataType == TimestampType &&
          c.child.dataType == TimestampNTZType &&
          c.timeZoneId.exists(z =>
            java.time.ZoneId.of(z).normalized() == java.time.ZoneOffset.UTC) =>
        compile(c.child, output)
      case u: UnixMillis => compile(u.child, output).map(FloorDivL(_, 1000L))
      case u: UnixSeconds => compile(u.child, output).map(FloorDivL(_, 1000000L))
      // ceil/floor of a double → LongType (saturating toLong, no
      // throw); ceil/floor of a long-family child is the identity
      case ce: Ceil if ce.dataType == LongType =>
        if (laneType(ce.child.dataType)) compile(ce.child, output)
        else if (ce.child.dataType == DoubleType)
          VecNumExpr.compile(ce.child, output).flatMap { k =>
            if (VecNumExpr.total(k)) scala.Right(CeilFloorL(k, isCeil = true))
            else scala.Left("non-total double subtree under ceil")
          }
        else scala.Left(s"unsupported ceil input type ${ce.child.dataType}")
      case fl: Floor if fl.dataType == LongType =>
        if (laneType(fl.child.dataType)) compile(fl.child, output)
        else if (fl.child.dataType == DoubleType)
          VecNumExpr.compile(fl.child, output).flatMap { k =>
            if (VecNumExpr.total(k)) scala.Right(CeilFloorL(k, isCeil = false))
            else scala.Left("non-total double subtree under floor")
          }
        else scala.Left(s"unsupported floor input type ${fl.child.dataType}")
      // date ± days: plain int addition on epoch days (DateAdd/DateSub
      // have no overflow guard — int wrap, exactly the row path)
      case d: DateAdd =>
        for { s <- compile(d.startDate, output); n <- compile(d.days, output) }
          yield ArithL(0, s, n, isInt = true, ansi = false, ctx = null)
      case d: DateSub =>
        for { s <- compile(d.startDate, output); n <- compile(d.days, output) }
          yield ArithL(1, s, n, isInt = true, ansi = false, ctx = null)
      // coalesce over lane values (sum(coalesce(flag, 0)) shapes):
      // total children only — the row path evaluates later args lazily
      case co: Coalesce if laneType(co.dataType) =>
        val parts = co.children.map(compile(_, output))
        parts.collectFirst { case scala.Left(r) => scala.Left(r) }.getOrElse {
          val ks = parts.collect { case scala.Right(k) => k }
          if (ks.forall(total)) scala.Right(CoalesceL(ks))
          else scala.Left("non-total child under lazily-evaluated coalesce")
        }
      // x % nonzero-literal (salting/bucketing keys): JVM % == Spark's
      // integral Remainder in every mode once the zero-divisor site is
      // excluded. The result magnitude is < |divisor|, so an int-typed
      // remainder stays in range for the lane's getInt read.
      case r: org.apache.spark.sql.catalyst.expressions.Remainder
          if laneType(r.dataType) =>
        val div = r.right match {
          case Literal(v: Long, LongType) if v != 0L => Some(v)
          case Literal(v: Int, IntegerType) if v != 0 => Some(v.toLong)
          case Literal(v: Short, ShortType) if v != 0 => Some(v.toLong)
          case Literal(v: Byte, ByteType) if v != 0 => Some(v.toLong)
          case _ => None
        }
        div match {
          case Some(d) => compile(r.left, output).map(RemL(_, d))
          case None => scala.Left("remainder divisor must be a non-zero literal")
        }
      // Bitwise/shift family: no eval modes, no throw sites — Java
      // operator semantics ARE the row expressions' codegen (shift
      // counts self-mask). Byte/short stay row (their wrap domain has
      // no kernel twin here).
      case b @ (_: BitwiseAnd | _: BitwiseOr | _: BitwiseXor)
          if b.dataType == LongType || b.dataType == IntegerType =>
        val be = b.asInstanceOf[BinaryExpression]
        val opc = b match {
          case _: BitwiseAnd => 0
          case _: BitwiseOr => 1
          case _ => 2
        }
        for { l <- compile(be.left, output); r <- compile(be.right, output) }
          yield BitwiseL(opc, l, r, isInt = b.dataType == IntegerType)
      case sh @ (_: ShiftLeft | _: ShiftRight | _: ShiftRightUnsigned)
          if sh.dataType == LongType || sh.dataType == IntegerType =>
        val be = sh.asInstanceOf[BinaryExpression]
        val opc = sh match {
          case _: ShiftLeft => 3
          case _: ShiftRight => 4
          case _ => 5
        }
        for { l <- compile(be.left, output); r <- compile(be.right, output) }
          yield BitwiseL(opc, l, r, isInt = sh.dataType == IntegerType)
      case nt: BitwiseNot if nt.dataType == LongType || nt.dataType == IntegerType =>
        compile(nt.child, output).map(BitwiseNotL(_, nt.dataType == IntegerType))
      case bc: BitwiseCount
          if bc.child.dataType == LongType || bc.child.dataType == IntegerType =>
        compile(bc.child, output)
          .map(BitCountL(_, bc.child.dataType == IntegerType))
      case bg: org.apache.spark.sql.catalyst.expressions.BitwiseGet
          if bg.left.dataType == LongType || bg.left.dataType == IntegerType =>
        val bits = if (bg.left.dataType == LongType) 64 else 32
        bg.right match {
          case Literal(p: Int, IntegerType) if p >= 0 && p < bits =>
            compile(bg.left, output).map(BitGetL(_, p))
          case other =>
            scala.Left(s"bit_get position must be an in-range int literal, got $other")
        }
      case ab: Abs
          if ab.dataType == LongType || ab.dataType == IntegerType =>
        compile(ab.child, output)
          .map(AbsL(_, ab.dataType == IntegerType, ab.failOnError))
      // timestamp→long cast: floorDiv micros to whole seconds (the
      // DateTimeUtils call Cast makes; no overflow, every eval mode)
      case c: Cast if c.dataType == LongType &&
          (c.child.dataType == TimestampType || c.child.dataType == TimestampNTZType) =>
        compile(c.child, output).map(FloorDivL(_, 1000000L))
      // CaseWhenL evaluates branches EAGERLY over the whole batch (the
      // lane was all-total by construction), so any branch kernel with
      // a throw site (the ANSI double→long bridge) must stay row — it
      // would fault on rows whose condition is false.
      case iff: If if laneType(iff.dataType) =>
        for {
          p <- VecPredicate.compile(iff.predicate, output)
          t <- compile(iff.trueValue, output)
          f <- compile(iff.falseValue, output)
          _ <- if (total(t) && total(f)) scala.Right(())
          else scala.Left("non-total branch kernel under eager IF evaluation")
        } yield CaseWhenL(Seq((p, t)), Some(f))
      case cw: CaseWhen if laneType(cw.dataType) =>
        val bs = cw.branches.foldRight(
          scala.Right(Nil): Either[String, List[(VecPredicate, VecLongExpr)]]) { (be, acc) =>
          for {
            t <- acc
            p <- VecPredicate.compile(be._1, output)
            v <- compile(be._2, output)
          } yield (p, v) :: t
        }
        val ev = cw.elseValue match {
          case None => scala.Right(None)
          case Some(x) => compile(x, output).map(Some(_))
        }
        for {
          b <- bs; e <- ev
          _ <- if (b.forall(x => total(x._2)) && e.forall(total)) scala.Right(())
          else scala.Left("non-total branch kernel under eager CASE evaluation")
        } yield CaseWhenL(b, e)
      case other =>
        scala.Left(s"unsupported long projection: ${other.getClass.getSimpleName}")
    }
  }
}

/** split(str, literalRegex, literalLimit) → array<string>: the string
  * lane computes the subject column, then Spark's own UTF8String.split
  * tokenizes per row — regex/limit semantics identical to
  * StringSplit.nullSafeEval by construction (NOT splitSQL, which is the
  * literal-pattern variant — pinned by the regex lane of the split
  * differential test). The payoff is batch continuity: the split
  * Project was the one row island in otherwise-columnar
  * chunking/tokenization pipelines (census: 5 hits across
  * q126/q152/q153/q166/q195). */
final case class SplitArrK(str: VecStrExpr, pattern: UTF8String, limit: Int)
    extends Serializable {
  def evalToVector(b: ColumnarBatch, n: Int, s: StrScratch): ColumnVector = {
    val subj = new Array[UTF8String](n)
    val nulls = new Array[Boolean](n)
    str.eval(b, n, subj, nulls, s)
    val parts = new Array[Array[UTF8String]](n)
    var total = 0
    var i = 0
    while (i < n) {
      if (!nulls(i)) {
        val p = subj(i).split(pattern, limit); parts(i) = p; total += p.length
      }
      i += 1
    }
    val flat = new Array[UTF8String](total)
    val offsets = new Array[Int](n)
    val lens = new Array[Int](n)
    var off = 0
    i = 0
    while (i < n) {
      offsets(i) = off
      if (!nulls(i)) {
        val p = parts(i)
        System.arraycopy(p, 0, flat, off, p.length)
        lens(i) = p.length
        off += p.length
      }
      i += 1
    }
    new StringsListVector(flat, offsets, lens, nulls, n)
  }
}

sealed trait ProjKernel extends Serializable
final case class NumKernel(k: VecNumExpr) extends ProjKernel
final case class StrKernel(k: VecStrExpr) extends ProjKernel
final case class IntKernel(k: LengthI) extends ProjKernel
final case class DecKernel(k: VecDecExpr, dt: DecimalType) extends ProjKernel
final case class Dec128Kernel(k: VecDec128Expr, dt: DecimalType) extends ProjKernel
final case class LongKernel(k: VecLongExpr, dt: org.apache.spark.sql.types.DataType) extends ProjKernel
final case class DateKernel(k: VecLongExpr) extends ProjKernel
final case class SplitKernel(k: SplitArrK) extends ProjKernel
final case class BoolKernel(p: VecPredicate) extends ProjKernel

object ProjKernel {
  /** Dispatch by result type: DOUBLE → the arithmetic kernels, STRING →
    * the string kernels, INTEGER → length, Decimal64 → the long-backed
    * decimal kernels. Everything else names itself as the fallback
    * reason. */
  def compile(e: Expression, output: Seq[Attribute]): Either[String, ProjKernel] =
    e.dataType match {
      case DoubleType => VecNumExpr.compile(e, output).map(NumKernel)
      case StringType => VecStrExpr.compile(e, output).map(StrKernel)
      case IntegerType => e match {
        case l: Length if l.child.dataType == StringType =>
          VecStrExpr.compile(l.child, output).map(k => IntKernel(LengthI(k)))
        case other =>
          // int-typed long-lane shapes (conditional flags, widening-free
          // reads): the long-backed output vector serves getInt
          VecLongExpr.compile(other, output).map(LongKernel(_, IntegerType))
      }
      case dt: DecimalType if dt.precision <= Decimal.MAX_LONG_DIGITS =>
        VecDecExpr.compile(e, output).map(DecKernel(_, dt))
      case dt: DecimalType =>
        VecDec128Expr.compile(e, output).map(Dec128Kernel(_, dt))
      case LongType => VecLongExpr.compile(e, output).map(LongKernel(_, LongType))
      case org.apache.spark.sql.types.BooleanType =>
        // a projected predicate (flag/quality-gate columns): the filter
        // kernel language is total and throw-free BY CONSTRUCTION
        // (ANSI-throwing compares, narrowing casts, and non-literal
        // divisors are all compile rejections there), so full-batch
        // evaluation without a live mask replicates the row path exactly
        // — including Kleene NULL propagation
        VecPredicate.compile(e, output).map(BoolKernel)
          .left.map(r => s"unsupported boolean projection: $r")
      case TimestampType | TimestampNTZType => e match {
        // value-identical retype: the long IS the stored micros
        case m: org.apache.spark.sql.catalyst.expressions.MicrosToTimestamp
            if m.child.dataType == LongType =>
          VecLongExpr.compile(m.child, output).map(LongKernel(_, e.dataType))
        // date_trunc to a LINEAR unit: pure floor-to-multiple micros
        // arithmetic — the time-bucketed GROUP BY key shape. Calendar
        // units (MONTH/QUARTER/YEAR) are not linear in micros; ltz
        // truncation is zone-relative, so it compiles under UTC only
        // (ntz is zone-free by definition). WEEK aligns to Monday
        // (epoch day 4 = 1970-01-05).
        case t: org.apache.spark.sql.catalyst.expressions.TruncTimestamp
            if t.timestamp.dataType == e.dataType &&
              (e.dataType == TimestampNTZType || t.timeZoneId.exists(z =>
                java.time.ZoneId.of(z).normalized() == java.time.ZoneOffset.UTC)) =>
          val mic = 1000L * 1000L
          val unit: Option[(Long, Long)] = t.format match {
            case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
              s.toString.toUpperCase(java.util.Locale.ROOT) match {
                case "MICROSECOND" => Some((1L, 0L))
                case "MILLISECOND" => Some((1000L, 0L))
                case "SECOND" => Some((mic, 0L))
                case "MINUTE" => Some((60L * mic, 0L))
                case "HOUR" => Some((3600L * mic, 0L))
                case "DAY" | "DD" => Some((86400L * mic, 0L))
                case "WEEK" => Some((7L * 86400L * mic, 4L * 86400L * mic))
                case _ => None
              }
            case _ => None
          }
          // unwrap the analyzer's ntz→ltz UTC retype (events tables read
          // as TIMESTAMP_NTZ get it inserted under date_trunc): same
          // value-identical rule as the standalone cast case below
          val tsChild = t.timestamp match {
            case c: org.apache.spark.sql.catalyst.expressions.Cast
                if c.dataType == TimestampType &&
                  c.child.dataType == TimestampNTZType &&
                  c.timeZoneId.exists(z =>
                    java.time.ZoneId.of(z).normalized() == java.time.ZoneOffset.UTC) =>
              c.child
            case other => other
          }
          unit match {
            case Some((m0, off)) =>
              VecLongExpr.compile(tsChild, output)
                .map(c => LongKernel(FloorMultOffL(c, m0, off), e.dataType))
            case None => scala.Left("unsupported date_trunc unit (calendar " +
              "units are not linear in micros — row path)")
          }
        // ntz→ltz cast reinterprets the wall-clock in the cast's zone;
        // under UTC that is ALSO a value-identical retype of the stored
        // micros. Any other zone shifts the value — row path.
        case c: org.apache.spark.sql.catalyst.expressions.Cast
            if c.dataType == TimestampType && c.child.dataType == TimestampNTZType &&
              c.timeZoneId.exists(z =>
                java.time.ZoneId.of(z).normalized() == java.time.ZoneOffset.UTC) =>
          VecLongExpr.compile(c.child, output).map(LongKernel(_, e.dataType))
        // timestamp literals and other micros-lane computables
        case other =>
          VecLongExpr.compile(other, output).map(LongKernel(_, e.dataType))
            .left.map(r => s"unsupported timestamp projection: $r")
      }
      case DateType => e match {
        // timestamp→date (to_date(ts) resolves to this cast): local-date
        // extraction is zone-relative for ltz — UTC only — and zone-free
        // for ntz; both are a floorDiv of the stored micros
        case c: org.apache.spark.sql.catalyst.expressions.Cast
            if c.child.dataType == TimestampNTZType ||
              (c.child.dataType == TimestampType && c.timeZoneId.exists(z =>
                java.time.ZoneId.of(z).normalized() == java.time.ZoneOffset.UTC)) =>
          VecLongExpr.compile(c.child, output).map(k => DateKernel(MicrosToDaysL(k)))
        // date ± days and anything else the long lane computes in
        // epoch days (plain date attrs, date_add/date_sub chains)
        case other =>
          VecLongExpr.compile(other, output).map(DateKernel(_))
            .left.map(r => s"unsupported date projection: $r")
      }
      case ArrayType(StringType, false) => e match {
        case ss: StringSplit => (ss.regex, ss.limit) match {
          case (Literal(p: UTF8String, StringType), Literal(l: Int, IntegerType))
              if p != null =>
            VecStrExpr.compile(ss.str, output).map(k => SplitKernel(SplitArrK(k, p, l)))
          case _ => scala.Left("non-literal split pattern/limit")
        }
        case other2 => scala.Left("unsupported array<string> projection: " +
          other2.getClass.getSimpleName)
      }
      case other =>
        scala.Left(s"unsupported projection result type $other " +
          "(ANSI integral overflow / 128-bit decimal stay on the row path)")
    }
}

/** Columnar Project with COMPUTED expressions: evaluates the supported
  * double-algebra and string kernels batch-at-a-time into materialized
  * [[ArrayBackedVector]]s;
  * attribute items pass through zero-copy (referencing the child
  * batch's vectors, selection wrappers and all). Together with
  * GraftColumnarSelectExec (attribute-only fast path),
  * GraftColumnarFilterExec and GraftColumnarPartialAggExec this
  * completes the §7.1 select/filter/project/aggregate columnar runtime.
  *
  * Reference analogue: projection inside the native plan
  * (planner.rs create_expr → DataFusion ProjectionExec); JVM gating:
  * operators.scala:386-776.
  */
case class GraftColumnarProjectExec(projectList: Seq[NamedExpression], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def supportsColumnar: Boolean = true
  override def outputPartitioning = child.outputPartitioning

  override lazy val metrics = Map(
    "numBatches" -> SQLMetrics.createMetric(sparkContext, "number of batches"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numComputedColumns" -> SQLMetrics.createMetric(sparkContext, "computed columns per batch"))

  override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    // compile on the driver; Left is unreachable (the rule gates)
    val plans: Seq[Either[Int, ProjKernel]] = projectList.map {
      case a: AttributeReference =>
        scala.Left(child.output.indexWhere(_.exprId == a.exprId))
      case Alias(a: AttributeReference, _)
          if child.output.exists(_.exprId == a.exprId) =>
        scala.Left(child.output.indexWhere(_.exprId == a.exprId))
      case Alias(e, _) =>
        ProjKernel.compile(e, child.output) match {
          case scala.Right(k) => scala.Right(k)
          case scala.Left(reason) =>
            throw new IllegalStateException(s"uncompilable columnar projection: $reason")
        }
      case other =>
        throw new IllegalStateException(s"unexpected projection item: $other")
    }
    val (batchM, rowM, compM) =
      (metrics("numBatches"), metrics("numOutputRows"), metrics("numComputedColumns"))
    child.executeColumnar().mapPartitionsInternal { iter =>
      // Per-partition buffer reuse, the vectorized-reader contract: the
      // consumer must finish with a batch before pulling the next one
      // (Spark's own parquet reader reuses its WritableColumnVectors the
      // same way). One persistent output buffer pair per computed
      // column, plus temp pools for kernel-internal intermediates.
      val scratch = new VecScratch
      val strScratch = new StrScratch
      val outD = new Array[Array[Double]](plans.length)
      val outS = new Array[Array[UTF8String]](plans.length)
      val outI = new Array[Array[Int]](plans.length)
      val outL = new Array[Array[Long]](plans.length)
      val outH = new Array[Array[Long]](plans.length) // Dec128 high words
      val outBool = new Array[Array[Boolean]](plans.length)
      val outN = new Array[Array[Boolean]](plans.length)
      def nulls(c: Int, n: Int): Array[Boolean] = {
        if (outN(c) == null || outN(c).length < n) outN(c) = new Array[Boolean](n)
        outN(c)
      }
      iter.map { batch =>
        val n = batch.numRows()
        val cols = new Array[ColumnVector](plans.length)
        var c = 0
        while (c < plans.length) {
          plans(c) match {
            case scala.Left(ordIdx) => cols(c) = batch.column(ordIdx)
            case scala.Right(NumKernel(kernel)) =>
              if (outD(c) == null || outD(c).length < n) outD(c) = new Array[Double](n)
              scratch.reset()
              kernel.eval(batch, n, outD(c), nulls(c, n), scratch)
              cols(c) = new DoubleBuildVector(DoubleType, outD(c), outN(c), n)
              compM.add(1)
            case scala.Right(StrKernel(kernel)) =>
              if (outS(c) == null || outS(c).length < n) outS(c) = new Array[UTF8String](n)
              strScratch.reset()
              kernel.eval(batch, n, outS(c), nulls(c, n), strScratch)
              cols(c) = new StringArrayVector(outS(c), outN(c), n)
              compM.add(1)
            case scala.Right(IntKernel(kernel)) =>
              if (outI(c) == null || outI(c).length < n) outI(c) = new Array[Int](n)
              strScratch.reset()
              kernel.eval(batch, n, outI(c), nulls(c, n), strScratch)
              cols(c) = new IntArrayVector(outI(c), outN(c), n)
              compM.add(1)
            case scala.Right(DecKernel(kernel, dt)) =>
              if (outL(c) == null || outL(c).length < n) outL(c) = new Array[Long](n)
              scratch.reset()
              kernel.eval(batch, n, outL(c), nulls(c, n), scratch)
              cols(c) = new LongBuildVector(dt, outL(c), outN(c), n)
              compM.add(1)
            case scala.Right(Dec128Kernel(kernel, dt)) =>
              if (outL(c) == null || outL(c).length < n) outL(c) = new Array[Long](n)
              if (outH(c) == null || outH(c).length < n) outH(c) = new Array[Long](n)
              scratch.reset()
              kernel.eval(batch, n, outH(c), outL(c), nulls(c, n), scratch)
              cols(c) = new Dec128ArrayVector(outH(c), outL(c), outN(c), n, dt)
              compM.add(1)
            case scala.Right(LongKernel(kernel, dt)) =>
              if (outL(c) == null || outL(c).length < n) outL(c) = new Array[Long](n)
              kernel.eval(batch, n, outL(c), nulls(c, n))
              cols(c) = new LongArrayVector(outL(c), outN(c), n, dt)
              compM.add(1)
            case scala.Right(DateKernel(kernel)) =>
              if (outL(c) == null || outL(c).length < n) outL(c) = new Array[Long](n)
              kernel.eval(batch, n, outL(c), nulls(c, n))
              cols(c) = new LongBuildVector(DateType, outL(c), outN(c), n)
              compM.add(1)
            case scala.Right(SplitKernel(kernel)) =>
              strScratch.reset()
              cols(c) = kernel.evalToVector(batch, n, strScratch)
              compM.add(1)
            case scala.Right(BoolKernel(pred)) =>
              if (outBool(c) == null || outBool(c).length < n) outBool(c) = new Array[Boolean](n)
              pred.eval(batch, null, n, outBool(c), nulls(c, n))
              cols(c) = new BooleanArrayVector(outBool(c), outN(c), n)
              compM.add(1)
          }
          c += 1
        }
        batchM.add(1); rowM.add(n)
        new ColumnarBatch(cols, n)
      }
    }
  }

  /** Row fallback (planner routes columnar since supportsColumnar). */
  override protected def doExecute(): RDD[InternalRow] = {
    val pl = projectList
    val in = child.output
    child.execute().mapPartitionsInternal { iter =>
      val proj = UnsafeProjection.create(pl, in)
      iter.map(proj)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftColumnarProjectExec =
    copy(child = newChild)
}
