// In the org.apache.spark.sql namespace alongside GraftTopK — same
// placement the reference uses for its operators (org.apache.spark.sql.comet).
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Columnar execution demonstrator (SURVEY §7.1's remaining custom-work
  * item; reference pattern: spark/sql/comet/operators.scala:386-776 —
  * operators that consume and produce ColumnarBatch and are swapped in
  * by a plugin rule).
  *
  * GraftColumnarSelectExec executes an attribute-only projection
  * (column prune / reorder) directly on the scan's ColumnarBatches:
  * zero copy — the output batch references the input batch's
  * ColumnVectors — and zero row materialization. Spark inserts the
  * ColumnarToRow transition above it automatically, exactly as it does
  * for the reference's native operators.
  */
case class GraftColumnarSelectExec(output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  // No constructor validation: AQE canonicalization copies this node with
  // normalized exprIds, where output/child correspondence is checked by
  // the rule that builds the real instance, not here.
  private lazy val indices: Array[Int] =
    output.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray

  override def supportsColumnar: Boolean = true
  override def outputPartitioning = child.outputPartitioning

  /** Per-operator SQLMetrics (reference pattern: CometMetricNode). */
  override lazy val metrics = Map(
    "numBatches" -> SQLMetrics.createMetric(sparkContext, "number of batches"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val idx = indices
    val (batchM, rowM) = (metrics("numBatches"), metrics("numOutputRows"))
    child.executeColumnar().map { batch =>
      val cols = new Array[ColumnVector](idx.length)
      var i = 0
      while (i < idx.length) { cols(i) = batch.column(idx(i)); i += 1 }
      batchM.add(1)
      rowM.add(batch.numRows())
      new ColumnarBatch(cols, batch.numRows())
    }
  }

  /** Row fallback — present for completeness; the planner routes through
    * the columnar path because supportsColumnar is true.
    */
  override protected def doExecute(): RDD[InternalRow] = {
    val out = output
    val in = child.output
    child.execute().mapPartitionsInternal { iter =>
      val proj = UnsafeProjection.create(out, in)
      iter.map(proj)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftColumnarSelectExec =
    copy(child = newChild)
}
