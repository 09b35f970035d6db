// In org.apache.spark.sql.execution.graft for access to the
// private[execution] HashedRelation constructors — the same build path
// ShuffledHashJoinExec uses, so build bytes match the row join exactly.
package org.apache.spark.sql.execution.graft

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.joins.HashedRelation
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graft.{AllNullVector, DoubleBuildVector, LongBuildVector, SelectedColumnVector, StringArrayVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Columnar LEFT SEMI / LEFT ANTI shuffled hash join (reference
  * analogue: native ShuffledHashJoin, planner.rs:1804-1878 + the
  * operators.scala join-type mapping).
  *
  * The swap target is the ONE shuffled-join layout where a columnar
  * probe can pay off with Tungsten shuffle kept (SURVEY §7.1): the
  * STREAM side is pre-partitioned on the join key — a bucketed table or
  * other co-located layout — so its scan block reaches the join as
  * ColumnarBatches with NO exchange, while the build side arrives
  * through the usual row shuffle. Each task builds the same
  * HashedRelation the row ShuffledHashJoinExec would (identical
  * HashedRelation.apply call, integral keys upcast to long exactly like
  * HashJoin.rewriteKeyExpr) and probes it batch-at-a-time with
  * zero-copy selection-vector output, like the broadcast semi/anti
  * probe. When BOTH sides shuffle, the stream child is a row exchange,
  * `supportsColumnar` is false, and the rule leaves the row join alone —
  * re-columnarizing shuffled rows just to probe them would add a
  * conversion the row join doesn't pay.
  *
  * Default ON after a winning A/B (FilterMicroBench sf0.1, bucketed
  * lineitem stream vs filtered orders build: shj-semi-bkt 0.81x,
  * shj-anti-bkt 0.91x of the row ShuffledHashJoin) — like the broadcast
  * semi/anti probe, no build-side output means the probe is a pure
  * existence filter with zero-copy output, and the avoided
  * ColumnarToRow of every stream row pays for the lost codegen fusion.
  *
  * Scale note: nothing about WHAT shuffles changes — the build side
  * shuffles exactly as the row SHJ would, the stream side stays in
  * place (that's the point of the bucketed layout), and per-task build
  * memory is the same HashedRelation the row operator allocates.
  */
case class GraftColumnarShuffledSemiJoinExec(
    output: Seq[Attribute],
    streamKeys: Seq[Expression],
    buildKeys: Seq[Expression],
    streamKeyOrds: Seq[Int],
    streamKeyTypes: Seq[DataType],
    streamOrds: Seq[Int], // per output col: ordinal in the stream batch
    anti: Boolean,
    left: SparkPlan,
    right: SparkPlan)
    extends BinaryExecNode {

  override def supportsColumnar: Boolean = true
  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** Same distribution contract as ShuffledJoin: keeps EnsureRequirements
    * and AQE re-planning from disturbing the co-located layout. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(streamKeys) :: ClusteredDistribution(buildKeys) :: Nil

  override lazy val metrics = Map(
    "numBatches" -> SQLMetrics.createMetric(sparkContext, "number of batches"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numProbedRows" -> SQLMetrics.createMetric(sparkContext, "number of probed rows"),
    "buildTime" -> SQLMetrics.createTimingMetric(sparkContext, "hash relation build time"))

  /** The never-executed RowToColumnarExec transition insertion wraps
    * around the (row-producing) build side — unwrap, we consume rows. */
  private def buildPlan: SparkPlan = right match {
    case r: org.apache.spark.sql.execution.RowToColumnarExec => r.child
    case p => p
  }

  override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val keyOrds = streamKeyOrds.toArray
    val keyTypes = streamKeyTypes.toArray
    val ords = streamOrds.toArray
    val isAnti = anti
    val canPack = GraftColumnarBHJExec.canPackKeys(keyTypes)
    // Build keys go through Spark's OWN rewriteKeyExpr when the integral
    // set packs into 8 bytes, so HashedRelation.apply builds the same
    // LongHashedRelation (same packed layout) the row SHJ probes;
    // a string key builds an UnsafeHashedRelation on the 1-field
    // UnsafeRow layout.
    val boundBuildKeys: Seq[Expression] = {
      val bound = BindReferences.bindReferences(buildKeys, buildPlan.output)
      if (GraftColumnarBHJExec.canPackKeys(bound.map(_.dataType)))
        org.apache.spark.sql.execution.joins.HashJoin.rewriteKeyExpr(bound)
      else bound
    }
    val (batchM, rowM, probeM, buildM) = (metrics("numBatches"),
      metrics("numOutputRows"), metrics("numProbedRows"), metrics("buildTime"))

    // The build side is usually a row exchange, but with BOTH layouts
    // co-located (build bucketed on the key too) it arrives columnar —
    // and a batch-enabled scan's execute() yields ColumnarBatches erased
    // as rows, so consume executeColumnar() and do the row conversion
    // here (HashedRelation requires UnsafeRows — the same conversion the
    // row join's ColumnarToRow transition would perform).
    val buildRowsRDD: RDD[InternalRow] =
      if (buildPlan.supportsColumnar) {
        val buildOut = buildPlan.output
        buildPlan.executeColumnar().mapPartitionsInternal { it =>
          val toUnsafe = UnsafeProjection.create(buildOut, buildOut)
          it.flatMap { b =>
            import scala.jdk.CollectionConverters._
            b.rowIterator().asScala.map(toUnsafe)
          }
        }
      } else buildPlan.execute()

    left.executeColumnar().zipPartitions(buildRowsRDD) { (batches, buildRows) =>
      val t0 = System.nanoTime()
      val rel = HashedRelation(
        buildRows,
        boundBuildKeys,
        taskMemoryManager = TaskContext.get().taskMemoryManager(),
        // existence probe: one build row per key is enough
        ignoresDuplicatedKey = true)
      // release the relation's Tungsten pages at task end — the row
      // ShuffledHashJoinExec's buildHashedRelation registers the same
      // listener; without it every probe task trips the executor's
      // managed-memory-leak warning
      TaskContext.get().addTaskCompletionListener[Unit](_ => rel.close())
      buildM.add((System.nanoTime() - t0) / 1000000)
      var sel = new Array[Int](1 << 10)
      val keyRow = new GenericInternalRow(1)
      val keyProj: UnsafeProjection =
        if (canPack) null else UnsafeProjection.create(Array[DataType](keyTypes(0)))

      batches.flatMap { batch =>
        val n = batch.numRows()
        probeM.add(n)
        if (sel.length < n) sel = new Array[Int](n)
        val keys = keyOrds.map(batch.column)
        // hasMatch(i) assumes the caller checked nulls first
        val hasMatch: Int => Boolean =
          if (canPack) {
            val getKey = GraftColumnarBHJExec.packedKeyGetter(keys, keyTypes)
            i => { val it = rel.get(getKey(i)); it != null && it.hasNext }
          } else {
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
      "GraftColumnarShuffledSemiJoinExec is columnar-only; the rule swaps whole ShuffledHashJoinExec nodes")

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): GraftColumnarShuffledSemiJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Columnar INNER / LEFT OUTER shuffled hash join for the same
  * co-located layout as [[GraftColumnarShuffledSemiJoinExec]] (bucketed
  * columnar stream, shuffled row build): per-task HashedRelation build +
  * growable match buffers (zero-copy stream gathers via selection
  * vectors, build columns materialized per match).
  * Default ON (spark.graft.columnar.shj.inner.enabled) after a winning
  * A/B: shj-inner-bkt median ~0.84x of the row ShuffledHashJoin across
  * ten session runs (0.74-0.93x typical; occasional load-noise outliers
  * up to ~1.3x on a contended box). A broadcast inner
  * probe lost its A/B (~1.65x, since removed) because it displaces a fully
  * codegen-FUSED scan→join pipeline; here the row twin is not fused —
  * it already pays a ColumnarToRow of every stream row plus the same
  * per-task relation build — so avoiding the row materialization wins.
  * LEFT OUTER (`leftOuter = true`) is the same probe with misses and
  * null-key rows emitted once with all build lanes null — the cost
  * delta over inner is one null row per miss, so the inner measurement
  * carries (shj-louter-bkt micro-bench: median ~0.97x over 6 session
  * runs, same load-noise spread as the inner shape).
  * RIGHT OUTER (`buildOuter = true`) and FULL OUTER (both flags) add
  * the row SHJ's own build-outer mechanism (SPARK-36612 /
  * ShuffledHashJoinExec.buildSideOrFullOuterJoin): the relation is
  * built with allowsNullKey, probes go through getWithKeyIndex marking
  * matched KEYS in a BitSet (no extra join condition is admitted, so
  * key granularity is exact), and an end-of-stream sweep over
  * valuesWithKeyIndex emits every unmatched build row once with all
  * stream lanes null. A/B (FilterMicroBench shj-router-bkt /
  * shj-fouter-bkt, sf0.1, 3 runs of min-of-5): right outer 0.84-0.87x,
  * full outer 0.88-0.95x of the row ShuffledHashJoin — both sides pay
  * the unsafe-relation path, and the avoided stream ColumnarToRow
  * still wins, so the existing default-ON gate carries.
  * Build-side strings are cloned at batch-snapshot time: the per-task
  * relation's memory (unlike a broadcast's) is freed at task end, and a
  * downstream operator may hold the emitted batch longer.
  * Match buffers are BOUNDED at [[GraftColumnarShuffledInnerJoinExec.maxBatchRows]]:
  * probing suspends (mid-batch, mid-match-iterator) to emit whenever the
  * bound fills, so build-side key skew — one hot key with K duplicate
  * rows — cannot balloon a single output ColumnarBatch to 4096*K rows of
  * unregistered heap (the row SHJ streams match-at-a-time and never
  * materializes; this is the columnar equivalent of that property).
  */
case class GraftColumnarShuffledInnerJoinExec(
    output: Seq[Attribute],
    streamKeys: Seq[Expression],
    buildKeys: Seq[Expression],
    streamKeyOrds: Seq[Int],
    streamKeyTypes: Seq[DataType],
    buildSideStruct: StructType,
    streamOrBuild: Seq[Either[Int, Int]], // per output col: Left(streamOrd) | Right(buildOrd)
    leftOuter: Boolean,
    buildOuter: Boolean,
    left: SparkPlan,
    right: SparkPlan)
    extends BinaryExecNode {

  override def supportsColumnar: Boolean = true

  // Mirror ShuffledJoin: inner keeps BOTH sides' partitionings valid
  // (every surviving row carries both join keys); an outer side keeps
  // only the preserved side's; full outer keeps neither.
  override def outputPartitioning: Partitioning = (leftOuter, buildOuter) match {
    case (false, false) =>
      PartitioningCollection(Seq(left.outputPartitioning, right.outputPartitioning))
    case (true, false) => left.outputPartitioning
    case (false, true) => right.outputPartitioning
    case _ => org.apache.spark.sql.catalyst.plans.physical
      .UnknownPartitioning(left.outputPartitioning.numPartitions)
  }

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(streamKeys) :: ClusteredDistribution(buildKeys) :: Nil

  override lazy val metrics = Map(
    "numBatches" -> SQLMetrics.createMetric(sparkContext, "number of batches"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numProbedRows" -> SQLMetrics.createMetric(sparkContext, "number of probed rows"),
    "buildTime" -> SQLMetrics.createTimingMetric(sparkContext, "hash relation build time"))

  private def buildPlan: SparkPlan = right match {
    case r: org.apache.spark.sql.execution.RowToColumnarExec => r.child
    case p => p
  }

  override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val keyOrds = streamKeyOrds.toArray
    val keyTypes = streamKeyTypes.toArray
    val canPack = GraftColumnarBHJExec.canPackKeys(keyTypes)
    val plan = streamOrBuild.toArray
    val buildTypes = buildSideStruct.fields.map(_.dataType)
    val boundBuildKeys: Seq[Expression] = {
      val bound = BindReferences.bindReferences(buildKeys, buildPlan.output)
      if (GraftColumnarBHJExec.canPackKeys(bound.map(_.dataType)))
        org.apache.spark.sql.execution.joins.HashJoin.rewriteKeyExpr(bound)
      else bound
    }
    val (batchM, rowM, probeM, buildM) = (metrics("numBatches"),
      metrics("numOutputRows"), metrics("numProbedRows"), metrics("buildTime"))

    val buildRowsRDD: RDD[InternalRow] =
      if (buildPlan.supportsColumnar) {
        val buildOut = buildPlan.output
        buildPlan.executeColumnar().mapPartitionsInternal { it =>
          val toUnsafe = UnsafeProjection.create(buildOut, buildOut)
          it.flatMap { b =>
            import scala.jdk.CollectionConverters._
            b.rowIterator().asScala.map(toUnsafe)
          }
        }
      } else buildPlan.execute()

    val isBuildOuter = buildOuter
    left.executeColumnar().zipPartitions(buildRowsRDD) { (batches, buildRows) =>
      val t0 = System.nanoTime()
      // build-outer needs null-key rows kept (they are never matched,
      // emitted by the sweep) — allowsNullKey forces the
      // UnsafeHashedRelation path, whose getWithKeyIndex/
      // valuesWithKeyIndex the sweep relies on (the row SHJ's own
      // buildSideOrFullOuterJoin contract)
      val rel = HashedRelation(
        buildRows,
        boundBuildKeys,
        taskMemoryManager = TaskContext.get().taskMemoryManager(),
        allowsNullKey = isBuildOuter)
      // same task-end close the row ShuffledHashJoinExec registers
      TaskContext.get().addTaskCompletionListener[Unit](_ => rel.close())
      buildM.add((System.nanoTime() - t0) / 1000000)
      val matchedKeys = if (isBuildOuter) new java.util.BitSet() else null
      // growable match buffers, reused across batches
      var cap = 1 << 10
      var sel = new Array[Int](cap)
      val nBuild = buildTypes.length
      var buildL = Array.ofDim[Long](nBuild, cap)
      var buildD = Array.ofDim[Double](nBuild, cap)
      var buildS = Array.ofDim[org.apache.spark.unsafe.types.UTF8String](nBuild, cap)
      var buildN = Array.ofDim[Boolean](nBuild, cap)
      def grow(newCap: Int): Unit = {
        sel = java.util.Arrays.copyOf(sel, newCap)
        var c = 0
        while (c < nBuild) {
          buildL(c) = java.util.Arrays.copyOf(buildL(c), newCap)
          buildD(c) = java.util.Arrays.copyOf(buildD(c), newCap)
          buildS(c) = java.util.Arrays.copyOf(buildS(c), newCap)
          buildN(c) = java.util.Arrays.copyOf(buildN(c), newCap)
          c += 1
        }
        cap = newCap
      }
      val keyRow = new GenericInternalRow(1)
      val keyProj: UnsafeProjection =
        if (canPack) null else UnsafeProjection.create(Array[DataType](keyTypes(0)))
      // build-outer packed keys still probe through an UnsafeRow: the
      // allowsNullKey relation is an UnsafeHashedRelation (no long API)
      val packRow = new GenericInternalRow(1)
      val packProj: UnsafeProjection =
        if (canPack && isBuildOuter) UnsafeProjection.create(Array[DataType](LongType))
        else null

      /** Copy one build row's lanes into the match buffers at slot m. */
      def writeBuildRow(row: InternalRow, m: Int): Unit = {
        var c = 0
        while (c < nBuild) {
          if (row.isNullAt(c)) { buildN(c)(m) = true }
          else {
            buildN(c)(m) = false
            buildTypes(c) match {
              case LongType | TimestampType | TimestampNTZType =>
                buildL(c)(m) = row.getLong(c)
              case IntegerType | DateType => buildL(c)(m) = row.getInt(c).toLong
              case ShortType => buildL(c)(m) = row.getShort(c).toLong
              case ByteType => buildL(c)(m) = row.getByte(c).toLong
              case BooleanType => buildL(c)(m) = if (row.getBoolean(c)) 1L else 0L
              case DoubleType => buildD(c)(m) = row.getDouble(c)
              case FloatType => buildD(c)(m) = row.getFloat(c).toDouble
              // Decimal64 rides the long lane as its unscaled value
              case d: DecimalType =>
                buildL(c)(m) = row.getDecimal(c, d.precision, d.scale).toUnscaledLong
              // the relation rows live in task memory for the whole
              // partition, so the UTF8String views stay valid until
              // the snapshot copy below
              case StringType => buildS(c)(m) = row.getUTF8String(c)
              case other => throw new IllegalStateException(s"bad build type $other")
            }
          }
          c += 1
        }
      }

      /** Emit one output batch from the match buffers. `batch` == null
        * is the build-outer sweep: stream lanes are all-null. */
      def mkBatch(m: Int, batch: ColumnarBatch): ColumnarBatch = {
        val selOut = if (batch == null) null else java.util.Arrays.copyOf(sel, m)
        val cols = new Array[org.apache.spark.sql.vectorized.ColumnVector](plan.length)
        var o = 0
        while (o < plan.length) {
          cols(o) = plan(o) match {
            case scala.Left(sOrd) =>
              if (batch == null) new AllNullVector(output(o).dataType, m)
              else new SelectedColumnVector(batch.column(sOrd), selOut)
            case scala.Right(bOrd) =>
              val nl = java.util.Arrays.copyOf(buildN(bOrd), m)
              buildTypes(bOrd) match {
                case dt if GraftColumnarBHJExec.doubleFamily(dt) =>
                  new DoubleBuildVector(dt, java.util.Arrays.copyOf(buildD(bOrd), m), nl, m)
                case StringType =>
                  // copy the strings out: the relation's backing memory
                  // is freed when the task ends, but a downstream
                  // operator may hold the batch longer
                  val src = buildS(bOrd)
                  val out = new Array[org.apache.spark.unsafe.types.UTF8String](m)
                  var k = 0
                  while (k < m) { out(k) = if (nl(k)) null else src(k).clone(); k += 1 }
                  new StringArrayVector(out, nl, m)
                case dt =>
                  new LongBuildVector(dt, java.util.Arrays.copyOf(buildL(bOrd), m), nl, m)
              }
          }
          o += 1
        }
        batchM.add(1); rowM.add(m)
        new ColumnarBatch(cols, m)
      }

      val probed = batches.flatMap { batch =>
        val n = batch.numRows()
        probeM.add(n)
        val keys = keyOrds.map(batch.column)
        def markAndUnwrap(
            it: Iterator[org.apache.spark.sql.execution.joins.ValueRowWithKeyIndex])
            : Iterator[InternalRow] =
          if (it == null) null
          else it.map { v => matchedKeys.set(v.getKeyIndex); v.getValue }
        val getIter: Int => Iterator[InternalRow] =
          if (canPack) {
            val getKey = GraftColumnarBHJExec.packedKeyGetter(keys, keyTypes)
            if (isBuildOuter) { i =>
              packRow.update(0, getKey(i))
              markAndUnwrap(rel.getWithKeyIndex(packProj(packRow)))
            } else i => rel.get(getKey(i))
          } else {
            val load = GraftColumnarBHJExec.unsafeKeyLoader(keys(0), keyTypes(0), keyRow)
            if (isBuildOuter) { i =>
              load(i)
              markAndUnwrap(rel.getWithKeyIndex(keyProj(keyRow)))
            } else i => { load(i); rel.get(keyProj(keyRow)) }
          }
        val isOuter = leftOuter
        // a LEFT OUTER miss (or null-key row) emits the stream row once
        // with every build lane null
        def emitNullBuild(i: Int, m: Int): Unit = {
          sel(m) = i
          var c = 0
          while (c < nBuild) { buildN(c)(m) = true; c += 1 }
        }
        // CHUNKED probe: the match buffers are bounded at maxBatchRows —
        // when an input batch's matches cross the bound (a skewed build
        // key with K duplicates turns a 4096-row stream batch into
        // 4096*K matches), the buffer is emitted as a batch and probing
        // RESUMES mid-batch, mid-match-iterator. Without the bound one
        // hot key grows an arbitrary ColumnarBatch unregistered with the
        // task memory manager; the row SHJ streams match-at-a-time and
        // never materializes. Multiple emitted batches share the input
        // batch's stream vectors zero-copy (same lifetime contract as
        // the single-batch scheme: consumed before the next input batch
        // is loaded).
        val chunk = GraftColumnarShuffledInnerJoinExec.maxBatchRows
        new Iterator[ColumnarBatch] {
          private var i = 0
          private var liveIt: Iterator[InternalRow] = null
          private var matchedCur = false
          private var pending: ColumnarBatch = _
          private def fill(): Unit = {
            var m = 0
            while (m < chunk && (liveIt != null || i < n)) {
              if (liveIt == null) {
                if (!GraftColumnarBHJExec.anyNull(keys, i)) {
                  matchedCur = false
                  liveIt = getIter(i)
                  if (liveIt == null) {
                    if (isOuter) {
                      if (m == cap) grow(cap * 2)
                      emitNullBuild(i, m); m += 1
                    }
                    i += 1
                  }
                } else {
                  if (isOuter) {
                    if (m == cap) grow(cap * 2)
                    emitNullBuild(i, m); m += 1
                  }
                  i += 1
                }
              } else if (liveIt.hasNext) {
                val row = liveIt.next()
                matchedCur = true
                if (m == cap) grow(cap * 2)
                sel(m) = i
                writeBuildRow(row, m)
                m += 1
              } else {
                if (isOuter && !matchedCur) {
                  if (m == cap) grow(cap * 2)
                  emitNullBuild(i, m); m += 1
                }
                liveIt = null
                i += 1
              }
            }
            pending = if (m == 0) null else mkBatch(m, batch)
          }
          override def hasNext: Boolean = {
            while (pending == null && (liveIt != null || i < n)) fill()
            pending != null
          }
          override def next(): ColumnarBatch = {
            if (!hasNext) throw new NoSuchElementException
            val b = pending; pending = null; b
          }
        }
      }
      if (!isBuildOuter) probed
      else probed ++ {
        // end-of-stream sweep (runs only after `probed` is exhausted —
        // Iterator.++'s right side is by-name): every build row whose
        // KEY was never matched, in 4096-row batches with null stream
        // lanes. Null-key rows were stored (allowsNullKey) and can
        // never be marked, so they are swept here — SQL outer-join
        // semantics for null keys.
        new Iterator[ColumnarBatch] {
          private val vs = rel.valuesWithKeyIndex()
          private var pending: ColumnarBatch = _
          private def fill(): Unit = {
            var m = 0
            while (m < 4096 && vs.hasNext) {
              val v = vs.next()
              if (!matchedKeys.get(v.getKeyIndex)) {
                if (m == cap) grow(cap * 2)
                writeBuildRow(v.getValue, m)
                m += 1
              }
            }
            pending = if (m == 0) null else mkBatch(m, null)
          }
          override def hasNext: Boolean = {
            while (pending == null && vs.hasNext) fill()
            pending != null
          }
          override def next(): ColumnarBatch = {
            if (!hasNext) throw new NoSuchElementException
            val b = pending; pending = null; b
          }
        }
      }
    }
  }

  /** Row fallback — the planner routes columnar (supportsColumnar). */
  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(
      "GraftColumnarShuffledInnerJoinExec is columnar-only; the rule swaps whole ShuffledHashJoinExec nodes")

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): GraftColumnarShuffledInnerJoinExec =
    copy(left = newLeft, right = newRight)
}

object GraftColumnarShuffledInnerJoinExec {
  /** Probe match-buffer emission bound: an output batch is emitted and
    * the buffers reset once this many matches accumulate, so build-side
    * key skew (one hot key with K duplicate rows) cannot grow an
    * unbounded ColumnarBatch from a single 4096-row input batch. 64K
    * rows keeps batches big enough to amortize per-batch overhead while
    * bounding the buffers at ~64K * lanes * 8 B. */
  val maxBatchRows: Int = 1 << 16
}
