// In org.apache.spark.sql.execution.graft alongside the other graft
// operators.
package org.apache.spark.sql.execution.graft

import java.util.concurrent.TimeUnit.NANOSECONDS

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, RowOrdering, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Row iterator over partition-key groups that knows how many rows the
  * current group holds, so a window above it can stream size-based
  * functions (ntile / percent_rank / cume_dist) instead of buffering
  * the whole partition to count it. */
trait SizedGroupIterator extends Iterator[InternalRow] {
  /** Row count of the group that the row last returned by `next()`
    * belongs to, or -1 when the sort did not count that group. */
  def groupSize: Long
}

/** In-partition sort under a window: a drop-in replacement for a
  * non-global `SortExec` whose order is `groupKeys` partition keys
  * followed by the window's ORDER BY keys.
  *
  * Under a hash exchange on the window's partition key, a task usually
  * holds one or a few key values. Spark's SortExec still compares the
  * full key, whose 8-byte prefix is then the constant partition key and
  * never decides a comparison. This sort routes the rows whose
  * partition key equals the task's first key (by the sort's own
  * ordering, so grouping matches SortExec's order exactly) into a
  * sorter keyed by the ORDER BY keys alone — an informative prefix,
  * and a radix sort when one prefix-exact key remains. Every other row
  * goes to a second sorter over the full key, which is today's sort.
  * The output merges the two: the second sorter's rows with a smaller
  * partition key, the first key's group, then the rest — exactly
  * SortExec's order up to ties on the full key. A task holding many
  * keys (the high-cardinality window) uses at most these two sorters.
  *
  * Both sorters are Spark's own UnsafeExternalRowSorter, built the way
  * SortExec builds them, so memory policy is unchanged: they spill on
  * task-memory refusal and honour `testSpillFrequency` and the
  * force-spill element threshold.
  *
  * The output iterator is a [[SizedGroupIterator]]: it reports the
  * first key's row count while emitting that group, and -1 otherwise.
  */
case class GraftGroupedSortExec(
    sortOrder: Seq[SortOrder],
    groupKeys: Int,
    child: SparkPlan,
    testSpillFrequency: Int = 0)
    extends UnaryExecNode {
  require(groupKeys > 0 && groupKeys < sortOrder.length,
    s"grouped sort needs 1..${sortOrder.length - 1} group keys, got $groupKeys")

  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = sortOrder
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics = Map(
    "sortTime" -> SQLMetrics.createTimingMetric(sparkContext, "sort time"),
    "peakMemory" -> SQLMetrics.createSizeMetric(sparkContext, "peak memory"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"),
    "fullKeyRows" -> SQLMetrics.createMetric(sparkContext, "rows sorted by the full key"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (sortTime, peakMemory, spillSize, fullKeyRows) = (metrics("sortTime"),
      metrics("peakMemory"), metrics("spillSize"), metrics("fullKeyRows"))
    val groupSort = SortExec(sortOrder.drop(groupKeys), global = false, child, testSpillFrequency)
    val fullSort = SortExec(sortOrder, global = false, child, testSpillFrequency)
    val keyOrder = sortOrder.take(groupKeys)
    val out = output
    child.execute().mapPartitionsInternal { iter =>
      val keyOrdering = RowOrdering.create(keyOrder, out)
      val taskMetrics = TaskContext.get().taskMetrics()
      val spillBefore = taskMetrics.memoryBytesSpilled
      val grouped = groupSort.createSorter()
      var rest: UnsafeExternalRowSorter = null
      var key: UnsafeRow = null
      var nGroup = 0L
      var nRest = 0L
      while (iter.hasNext) {
        val row = iter.next().asInstanceOf[UnsafeRow]
        if (key == null) key = row.copy()
        if (keyOrdering.compare(row, key) == 0) {
          grouped.insertRow(row); nGroup += 1
        } else {
          if (rest == null) rest = fullSort.createSorter()
          rest.insertRow(row); nRest += 1
        }
      }
      val groupIt = grouped.sort()
      val restIt = (if (rest == null) Iterator.empty[InternalRow] else rest.sort()).buffered
      val sorters = if (rest == null) Seq(grouped) else Seq(grouped, rest)
      sortTime += NANOSECONDS.toMillis(sorters.map(_.getSortTimeNanos).sum)
      val peak = sorters.map(_.getPeakMemoryUsage).sum
      peakMemory += peak
      spillSize += taskMetrics.memoryBytesSpilled - spillBefore
      taskMetrics.incPeakExecutionMemory(peak)
      fullKeyRows += nRest

      new SizedGroupIterator {
        // 0: full-key rows ordered before the group, 1: the group,
        // 2: the full-key rows after it
        private var state = if (nGroup == 0) 2 else 0
        override def groupSize: Long = if (state == 1) nGroup else -1L
        override def hasNext: Boolean = groupIt.hasNext || restIt.hasNext
        override def next(): InternalRow = {
          if (state == 0 && (!restIt.hasNext || keyOrdering.compare(restIt.head, key) > 0)) {
            state = 1
          }
          if (state == 1 && !groupIt.hasNext) state = 2
          if (state == 1) groupIt.next() else restIt.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftGroupedSortExec =
    copy(child = newChild)
}

object GraftGroupedSortExec {
  /** The window-family node above `plan` as (its partition keys, its
    * child): Spark's WindowExec and WindowGroupLimitExec, and the graft
    * window execs, whose partition keys are child-output ordinals. */
  private def windowKeys(plan: SparkPlan)
      : Option[(Seq[org.apache.spark.sql.catalyst.expressions.Expression], SparkPlan)] = {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def ords(idx: Seq[Int], child: SparkPlan) = Some((idx.map(child.output), child))
    plan match {
      case w: WindowExec => Some((w.partitionSpec, w.child))
      case w: WindowGroupLimitExec => Some((w.partitionSpec, w.child))
      case w: GraftColumnarWindowExec => ords(w.partIdx, w.child)
      case w: GraftWindowRangeSlideExec => ords(w.partIdx, w.child)
      case _ => None
    }
  }

  /** The per-operator swap, run by GraftColumnarRule after the window
    * swaps: a non-global SortExec directly under a window-family node
    * whose sort order is the node's partition keys followed by at least
    * one more key becomes the grouped sort. */
  def swapUnderWindows(plan: SparkPlan): SparkPlan = plan.transformUp {
    case parent => windowKeys(parent) match {
      case Some((keys, s: SortExec))
          if !s.global && keys.nonEmpty && s.sortOrder.length > keys.length &&
            s.sortOrder.zip(keys).forall { case (so, k) => so.child.semanticEquals(k) } =>
        parent.withNewChildren(Seq(
          GraftGroupedSortExec(s.sortOrder, keys.length, s.child, s.testSpillFrequency)))
      case _ => parent
    }
  }
}
