package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.execution.{ExpandExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.graft.{ConstCol, GraftColumnarExpandExec, InputCol}

/** Swaps of the per-row operators over a columnar child: Project (the
  * zero-copy select or the projection kernels), Filter and Expand. */
object GraftSelectSwaps {
  import GraftColumnarRule._

  def apply(session: SparkSession): PartialFunction[SparkPlan, SparkPlan] = {
    case ProjectExec(projectList, child)
        if child.supportsColumnar &&
          projectList.forall(p => p.isInstanceOf[AttributeReference] && ordinal(child, p) >= 0) =>
      GraftColumnarSelectExec(projectList.map(_.toAttribute), child)

    case p @ ProjectExec(projectList, child) if child.supportsColumnar =>
      // Computed projection: every item must be an attribute or a
      // compilable double-algebra / string / length kernel
      // (GraftColumnarProject).
      val reasons = projectList.flatMap {
        case a: AttributeReference if ordinal(child, a) >= 0 => None
        case Alias(a: AttributeReference, _) if ordinal(child, a) >= 0 => None
        case Alias(e, _) => ProjKernel.compile(e, child.output).left.toOption
        case other => Some(s"unsupported projection item: ${other.getClass.getSimpleName}")
      }
      if (reasons.isEmpty) GraftColumnarProjectExec(projectList, child)
      else declined(p, reasons.head)

    case f @ FilterExec(cond, child) if child.supportsColumnar =>
      VecPredicate.compile(cond, child.output) match {
        case Right(_) => GraftColumnarFilterExec(cond, child)
        case Left(reason) => declined(f, reason)
      }

    // Expand (rollup/cube/grouping-sets fan-out): each projection
    // item must be an input attribute (zero-copy pass-through) or a
    // constant-vector-representable literal (the nulled grouping
    // columns and the grouping-id). Anything computed keeps the row
    // path with a tagged reason.
    case e: ExpandExec if e.child.supportsColumnar && flag(session, expandEnabledKey) =>
      val compiled = e.projections.map(p => allRight(p.map {
        case a: AttributeReference if ordinal(e.child, a) >= 0 =>
          Right(InputCol(ordinal(e.child, a)))
        case Alias(a: AttributeReference, _) if ordinal(e.child, a) >= 0 =>
          Right(InputCol(ordinal(e.child, a)))
        case l: Literal if l.value == null || GraftColumnarExpandExec.supportedConstType(l.dataType) =>
          Right(ConstCol(l.value, l.dataType))
        case other =>
          Left(s"unsupported expand item: ${other.getClass.getSimpleName}")
      }))
      allRight(compiled) match {
        case Left(reason) => declined(e, reason)
        case Right(cols) => GraftColumnarExpandExec(e.output, cols, e.child)
      }
  }
}
