// In org.apache.spark.sql.execution.graft alongside the other graft
// operators.
package org.apache.spark.sql.execution.graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, ColumnarToRowExec, RDDScanExec, SQLExecution, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.storage.StorageLevel

/** Computes its child once for the range exchange above it.
  *
  * A global sort is a RANGE exchange, and RangePartitioner samples the
  * exchange's input RDD to pick partition bounds before the map stage
  * reads that RDD again: everything since the last stored input runs
  * twice. For a map-only pipeline (no exchange below the sort) that is
  * the whole query body. ShuffleExchangeExec builds its input RDD once
  * (a lazy val that both the sampling job and the map stage read), so
  * persisting it here lets the sampling job fill the blocks and the map
  * stage read them.
  *
  * Measured when this was a hand-placed `localCheckpoint` before the
  * sort (interleaved same-JVM A/Bs, sorted-once vs plain): q189 1.93
  * vs 2.66 s, q142 0.81 vs 1.28, q02 0.45 vs 0.56, q52 0.37 vs 0.49,
  * q53 0.36 vs 0.53, q54 0.32 vs 0.43, q156 1.14 vs 1.21; shapes with
  * an aggregation exchange just below the sort (q55, q126, q153) were at
  * parity. The storage level is MEMORY_AND_DISK, the level
  * `localCheckpoint` uses: a DISK_ONLY variant cost ~0.45 s per query
  * (serialize and write on the critical path), and repartitioning by
  * the partition key instead measured parity (the extra shuffle costs
  * what the recompute saves).
  *
  * Unlike a checkpoint the RDD keeps its lineage, so a lost block is
  * recomputed, and nothing runs until an action does. The blocks are
  * released when the SQL execution that stored them ends; an RDD stored
  * outside any execution is left to the ContextCleaner.
  */
case class GraftMaterializeOnceExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute().mapPartitionsInternal(_.map(_.copy()))
      .setName(nodeName)
      .persist(StorageLevel.MEMORY_AND_DISK)
    Option(sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY))
      .foreach(id => GraftMaterializeOnceExec.releaseAtEnd(sparkContext, id.toLong, rdd))
    rdd
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftMaterializeOnceExec =
    copy(child = newChild)
}

object GraftMaterializeOnceExec {

  /** One listener per SparkContext; it unpersists each execution's
    * stored RDDs when that execution ends. */
  private class Releaser extends SparkListener {
    val stored = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[RDD[_]]]()
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(stored.remove(end.executionId)).foreach(_.forEach(_.unpersist(blocking = false)))
      case _ => ()
    }
  }

  private val releasers = new java.util.WeakHashMap[SparkContext, Releaser]()

  private def releaseAtEnd(sc: SparkContext, executionId: Long, rdd: RDD[_]): Unit = {
    val releaser = releasers.synchronized {
      var r = releasers.get(sc)
      if (r == null) {
        r = new Releaser
        sc.addSparkListener(r)
        releasers.put(sc, r)
      }
      r
    }
    releaser.stored.computeIfAbsent(executionId, _ => new ConcurrentLinkedQueue[RDD[_]]()).add(rdd)
  }
}

/** Puts a [[GraftMaterializeOnceExec]] under every range exchange with
  * more than one output partition (RangePartitioner does not sample for
  * one) whose child is not already stored: a cached relation, an RDD
  * scan, or a shuffle stage read. Runs after the columnar transitions, so
  * the node sits between the exchange and the child's last row node. */
object GraftMaterializeOnceRule extends ColumnarRule {

  private def stored(plan: SparkPlan): Boolean = plan match {
    case ColumnarToRowExec(c) => stored(c)
    case AQEShuffleReadExec(c, _) => stored(c)
    case _: InMemoryTableScanExec | _: RDDScanExec | _: QueryStageExec |
        _: GraftMaterializeOnceExec => true
    case _ => false
  }

  override def postColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    override val ruleName: String = "graft.MaterializeOnce"
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case e @ ShuffleExchangeExec(RangePartitioning(_, n), child, _, _)
          if n > 1 && !stored(child) =>
        e.withNewChildren(Seq(GraftMaterializeOnceExec(child)))
    }
  }
}
