// Under org.apache.spark.sql.execution because the probe side consumes
// Spark's HashedRelation (private[execution]) — the same broadcast value
// the built-in BroadcastHashJoinExec uses, so the build side is shared
// bit-for-bit with the row-path join. The reference's analogue consumes
// Spark's broadcast on the JVM side and probes natively
// (CometBroadcastHashJoinExec / native/core hash join).
package org.apache.spark.sql.execution.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.joins.HashedRelation
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graft.SelectedColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** Hosts the probe-key helpers shared by the semi/anti broadcast probe
  * and the shuffled hash joins: the build-output type families, the
  * key-shape gate and the probe-side key getters. Inner and existence
  * broadcast joins stay on Spark's codegen-fused BroadcastHashJoinExec
  * (a JVM probe measured 1.65x and 1.2-1.4x slower there). */
object GraftColumnarBHJExec {
  /** Long-family types a BUILD OUTPUT column may have (materialized
    * into the long lane of the match buffers). NOT a valid probe-key
    * set — see [[probeKeyTypes]].
    */
  val longFamily: Set[DataType] =
    Set(BooleanType, ByteType, ShortType, IntegerType, LongType,
      DateType, TimestampType, TimestampNTZType)
  val doubleFamily: Set[DataType] = Set(FloatType, DoubleType)

  /** Key types Spark rewrites into a LongHashedRelation
    * (HashJoin.canRewriteAsLongType requires IntegralType, verified in
    * spark-sql 4.1.2) — the packed fast path of the probes. Anything
    * else probes through [[unsafeSingleKeyTypes]] or stays on the row
    * path.
    */
  val probeKeyTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  // THE key-shape gate for the semi/anti/shuffled probes is
  // semiProbeKeyShapeOk below (the planning rule calls it — keeps rule
  // and exec from drifting): an integral key set Spark packs into one
  // long, or a single unsafe key. The string case is the common
  // dedup-join shape (doc-id/url anti joins); its probe row layout
  // matches the build side bit-for-bit (same UnsafeProjection the row
  // join's streamedKeys would generate). A/B (FilterMicroBench sf0.1,
  // ~6k distinct string keys over full lineitem, half kept, repeated
  // runs): bhj-semi-str a consistent 0.86-0.90x win; bhj-anti-str
  // parity (0.92-1.16x, median ~1.0, run-noise-dominated — anti emits
  // the complement so selection pays back less). Shares the semi
  // gate's default-ON: win on semi, no loss on anti.
  /** Single-key types probed through a 1-field UnsafeRow against the
    * UnsafeHashedRelation Spark builds when the key cannot rewrite into
    * a long: default-collation strings and the date/time family
    * (DateType/TimestampType are not IntegralType, so
    * HashJoin.rewriteKeyExpr leaves them unpacked — the partition-date
    * and event-time dim-join keys). Float/double keys never reach here:
    * NormalizeFloatingNumbers wraps them in KnownFloatingPointNormalized,
    * so the plain-attribute gate already keeps those joins on the row
    * path. */
  val unsafeSingleKeyTypes: Set[DataType] =
    Set(StringType, DateType, TimestampType, TimestampNTZType)

  def semiProbeKeyShapeOk(dts: Seq[DataType]): Boolean =
    canPackKeys(dts) || (dts.length == 1 && unsafeSingleKeyTypes(dts.head))

  /** Loader writing vector slot i of the single unsafe key into row(0).
    * Primitive lanes box per row — the same per-row cost class as the
    * string path's UTF8String view; the projection then lays the value
    * out exactly as the build side's key generator did. */
  def unsafeKeyLoader(c: org.apache.spark.sql.vectorized.ColumnVector, dt: DataType,
      row: org.apache.spark.sql.catalyst.expressions.GenericInternalRow): Int => Unit =
    dt match {
      case StringType => i => row.update(0, c.getUTF8String(i))
      case DateType => i => row.update(0, java.lang.Integer.valueOf(c.getInt(i)))
      case TimestampType | TimestampNTZType =>
        i => row.update(0, java.lang.Long.valueOf(c.getLong(i)))
      case other => throw new IllegalStateException(s"bad unsafe probe key type $other")
    }

  def supportedBuildType(dt: DataType): Boolean = dt match {
    case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS // unscaled-long lane
    case _ => longFamily(dt) || doubleFamily(dt) || dt == StringType
  }

  /** Multi-key shapes Spark still rewrites into ONE long
    * (HashJoin.canRewriteAsLongType): all integral, total width <= 8
    * bytes — e.g. (int, int) composite keys. */
  def canPackKeys(dts: Seq[DataType]): Boolean =
    dts.nonEmpty && dts.forall(probeKeyTypes) && dts.map(_.defaultSize).sum <= 8

  /** Whether any probe key of stream row `i` is null (a null key never
    * matches). */
  def anyNull(keys: Array[ColumnVector], i: Int): Boolean = {
    var j = 0
    while (j < keys.length) { if (keys(j).isNullAt(i)) return true; j += 1 }
    false
  }

  /** Probe-side twin of HashJoin.rewriteKeyExpr's packed key: the first
    * key sign-extends to long (Cast semantics), each subsequent key is
    * shifted in masked to its byte width. Identical bit layout to the
    * build side's rewritten expression, so LongHashedRelation probes
    * match exactly. Callers must check nulls separately (a null in any
    * key column means no match). Type dispatch is resolved ONCE per
    * batch into per-column getter lambdas — nothing matches on types in
    * the per-row loop. */
  def packedKeyGetter(cols: Array[org.apache.spark.sql.vectorized.ColumnVector],
      types: Array[DataType]): Int => Long = {
    def signedGetter(c: org.apache.spark.sql.vectorized.ColumnVector,
        dt: DataType): Int => Long = dt match {
      case LongType => c.getLong
      case IntegerType => i => c.getInt(i).toLong
      case ShortType => i => c.getShort(i).toLong
      case ByteType => i => c.getByte(i).toLong
      case other => throw new IllegalStateException(s"bad packed key type $other")
    }
    val getters = Array.tabulate(cols.length)(j => signedGetter(cols(j), types(j)))
    if (cols.length == 1) getters(0)
    else {
      val bits = types.map(_.defaultSize * 8)
      val masks = bits.map(b => (1L << b) - 1)
      i => {
        var acc = getters(0)(i)
        var j = 1
        while (j < getters.length) {
          acc = (acc << bits(j)) | (getters(j)(i) & masks(j))
          j += 1
        }
        acc
      }
    }
  }
}

/** Columnar LEFT SEMI / LEFT ANTI broadcast hash join: the join shapes
  * with NO build-side output — each stream row is emitted or skipped on
  * an existence probe, so the whole output batch is zero-copy
  * [[SelectedColumnVector]] gathers over the input batch (no match
  * buffers, no build materialization at all — the cost that made an
  * inner columnar probe lose its A/B). Equi-key NULL semantics: a null
  * stream key never matches — dropped by SEMI, kept by ANTI (the
  * null-AWARE anti join variant is a different operator shape and stays
  * on the row path; the planning rule excludes it).
  *
  * Rule-enforced restrictions: BuildRight, no residual condition, and
  * equi-keys that are either (a) integral attributes totalling <= 8
  * bytes — including COMPOSITE keys like (int, int), probed with the
  * same packed long HashJoin.rewriteKeyExpr builds the
  * LongHashedRelation on ([[GraftColumnarBHJExec.packedKeyGetter]]) —
  * or (b) ONE string attribute (UnsafeHashedRelation, probed by a
  * 1-field UnsafeRow).
  *
  * Reference analogue: LeftSemi/LeftAnti serde + native hash join
  * (operators.scala join-type mapping, planner.rs hash join types).
  */
case class GraftColumnarSemiBHJExec(
    output: Seq[Attribute],
    streamKeyOrds: Seq[Int],
    streamKeyTypes: Seq[DataType],
    streamOrds: Seq[Int], // per output col: ordinal in the stream batch
    anti: Boolean,
    left: SparkPlan,
    right: SparkPlan)
    extends BinaryExecNode {

  /** The broadcast child. Spark's transition insertion assumes every
    * child of a columnar node consumes ColumnarBatches and wraps the
    * (row-producing) broadcast exchange in RowToColumnarExec; that node
    * is never executed — only the exchange's broadcast value is read —
    * so unwrap it here. */
  private def buildPlan: SparkPlan = right match {
    case r: org.apache.spark.sql.execution.RowToColumnarExec => r.child
    case p => p
  }

  override def supportsColumnar: Boolean = true
  override def outputPartitioning = left.outputPartitioning

  override lazy val metrics = Map(
    "numBatches" -> SQLMetrics.createMetric(sparkContext, "number of batches"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numProbedRows" -> SQLMetrics.createMetric(sparkContext, "number of probed rows"))

  override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val broadcastRel = buildPlan.executeBroadcast[HashedRelation]()
    val keyOrds = streamKeyOrds.toArray
    val keyTypes = streamKeyTypes.toArray
    val ords = streamOrds.toArray
    val isAnti = anti
    val canPack = GraftColumnarBHJExec.canPackKeys(keyTypes)
    val (batchM, rowM, probeM) =
      (metrics("numBatches"), metrics("numOutputRows"), metrics("numProbedRows"))

    left.executeColumnar().mapPartitionsInternal { iter =>
      val rel = broadcastRel.value.asReadOnlyCopy()
      var sel = new Array[Int](1 << 10)
      // Unsafe-single-key probe state (UnsafeHashedRelation — string /
      // date / timestamp keys): one reusable 1-field row + the same
      // UnsafeProjection layout the row join's streamedKeys would
      // generate, so probe bytes == build bytes.
      val keyRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val keyProj: UnsafeProjection =
        if (canPack) null else UnsafeProjection.create(Array[DataType](keyTypes(0)))

      iter.flatMap { batch =>
        val n = batch.numRows()
        probeM.add(n)
        if (sel.length < n) sel = new Array[Int](n)
        val keys = keyOrds.map(batch.column)
        // hasMatch(i) assumes no key column is null at i (checked by
        // the caller: a null equi-key never matches).
        val hasMatch: Int => Boolean =
          if (canPack) {
            // integral key(s): the packed-long layout of the broadcast
            // LongHashedRelation (HashJoin.rewriteKeyExpr)
            val getKey = GraftColumnarBHJExec.packedKeyGetter(keys, keyTypes)
            i => { val it = rel.get(getKey(i)); it != null && it.hasNext }
          } else {
            // the loaded value (e.g. a UTF8String view) aliases batch
            // memory — used only within this probe call, never retained
            val load = GraftColumnarBHJExec.unsafeKeyLoader(keys(0), keyTypes(0), keyRow)
            i => {
              load(i)
              val it = rel.get(keyProj(keyRow))
              it != null && it.hasNext
            }
          }
        var m = 0
        var i = 0
        while (i < n) {
          val matched = !GraftColumnarBHJExec.anyNull(keys, i) && hasMatch(i)
          if (matched != isAnti) { sel(m) = i; m += 1 }
          i += 1
        }
        if (m == 0) None
        else {
          val selOut = java.util.Arrays.copyOf(sel, m)
          val cols = new Array[ColumnVector](ords.length)
          var o = 0
          while (o < ords.length) {
            cols(o) = new SelectedColumnVector(batch.column(ords(o)), selOut)
            o += 1
          }
          batchM.add(1); rowM.add(m)
          Some(new ColumnarBatch(cols, m))
        }
      }
    }
  }

  /** Row fallback — the planner routes columnar (supportsColumnar). */
  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(
      "GraftColumnarSemiBHJExec is columnar-only; the rule swaps whole BroadcastHashJoinExec nodes")

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): GraftColumnarSemiBHJExec =
    copy(left = newLeft, right = newRight)
}
