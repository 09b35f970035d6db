package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.execution.{RowToColumnarExec, SparkPlan}
import org.apache.spark.sql.execution.graft.{GraftColumnarBHJExec, GraftColumnarSemiBHJExec, GraftColumnarShuffledInnerJoinExec, GraftColumnarShuffledSemiJoinExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Swaps of the hash joins whose stream side is columnar: the semi/anti
  * broadcast probe and the semi/anti and inner/outer shuffled probes. */
object GraftJoinSwaps {
  import GraftColumnarRule._

  def apply(session: SparkSession): PartialFunction[SparkPlan, SparkPlan] = {
    // Columnar LEFT SEMI / LEFT ANTI broadcast join: no build-side
    // output, so the probe is a pure existence filter over the stream
    // batch (zero-copy selection vectors, no match-buffer
    // materialization — the cost that made an inner probe lose its
    // A/B to Spark's codegen-fused BHJ, which inner joins keep). Key
    // gate: integral (LongHashedRelation) OR string
    // (UnsafeHashedRelation, the dedup anti-join shape); the
    // null-aware anti variant (isNullAwareAntiJoin=true) stays on
    // the row path.
    case j @ BroadcastHashJoinExec(lks, _, jt @ (LeftSemi | LeftAnti), BuildRight, None,
        left, right, false) if flag(session, semiBhjEnabledKey) =>
      semiProbe(j, lks, left, "semi/anti broadcast join") { (keyOrds, keyTypes, outOrds) =>
        GraftColumnarSemiBHJExec(j.output, keyOrds, keyTypes, outOrds,
          anti = jt == LeftAnti, left, right)
      }

    // Columnar LEFT SEMI / LEFT ANTI SHUFFLED hash join — only when
    // the STREAM side reaches the join columnar (a bucketed/co-located
    // scan, no exchange below it): the probe consumes scan batches
    // directly and builds the same per-task HashedRelation the row
    // SHJ would from the shuffled build rows. Both-sides-shuffled
    // joins have a row-exchange stream child and never match.
    case j @ ShuffledHashJoinExec(lks, rks, jt @ (LeftSemi | LeftAnti), BuildRight, None,
        left, right, false) if flag(session, shjEnabledKey) =>
      semiProbe(j, lks, left, "shuffled semi/anti join") { (keyOrds, keyTypes, outOrds) =>
        GraftColumnarShuffledSemiJoinExec(j.output, lks, rks, keyOrds, keyTypes, outOrds,
          anti = jt == LeftAnti, left, right)
      }

    // Columnar INNER / LEFT OUTER / RIGHT OUTER / FULL OUTER shuffled
    // hash join over the same co-located layout — default ON (winning
    // A/B: the row twin is not a fused scan pipeline here, so
    // zero-copy stream gathers beat its per-row ColumnarToRow; see
    // the exec's scaladoc). LEFT OUTER adds one null-build row per
    // miss; RIGHT/FULL OUTER add the row SHJ's build-outer mechanism
    // (matched-key BitSet + end-of-stream sweep, SPARK-36612).
    case j @ ShuffledHashJoinExec(lks, rks, jt @ (Inner | LeftOuter | RightOuter | FullOuter),
        BuildRight, None, left, right, false) if flag(session, innerShjEnabledKey) =>
      val build = right match {
        case r: RowToColumnarExec => r.child
        case p => p
      }
      probeKeys(lks, left) match {
        case Some((keyOrds, keyTypes)) if left.supportsColumnar &&
            build.output.forall(at => GraftColumnarBHJExec.supportedBuildType(at.dataType)) =>
          val streamOrBuild = j.output.map { at =>
            val s = ordinal(left, at)
            if (s >= 0) Left(s) else Right(ordinal(build, at))
          }
          GraftColumnarShuffledInnerJoinExec(j.output, lks, rks, keyOrds, keyTypes,
            StructType(build.output.map(at => StructField(at.name, at.dataType, at.nullable))),
            streamOrBuild,
            leftOuter = jt == LeftOuter || jt == FullOuter,
            buildOuter = jt == RightOuter || jt == FullOuter,
            left, right)
        case _ if left.supportsColumnar =>
          declined(j, "inner/outer shuffled join not columnar-probeable (needs " +
            "integral attribute keys packing into 8 bytes or a single " +
            "string/date/timestamp key, and supported build column types)")
        case _ => rowStream(j, left)
      }
  }

  /** A join whose stream side reaches it as rows (a key normalization or
    * computed key puts an exchange under it) keeps the row path. */
  private def rowStream(j: SparkPlan, stream: SparkPlan): SparkPlan =
    declined(j, s"stream side is not columnar: ${stream.getClass.getSimpleName}")

  /** Stream ordinals and types of the probe keys: every key a plain
    * stream attribute, and either one string/date/timestamp key
    * (UnsafeHashedRelation) or an integral set Spark packs into one long
    * (canRewriteAsLongType — incl. composite (int, int) keys). */
  private def probeKeys(lks: Seq[Expression], stream: SparkPlan): Option[(Seq[Int], Seq[DataType])] = {
    val ords = lks.map {
      case a: AttributeReference => ordinal(stream, a)
      case _ => -1
    }
    val types = lks.map(_.dataType)
    if (ords.forall(_ >= 0) && GraftColumnarBHJExec.semiProbeKeyShapeOk(types)) Some((ords, types))
    else None
  }

  /** A semi/anti probe over a columnar stream whose output is all
    * stream columns: `exec` gets the key ordinals, key types and output
    * ordinals. `what` names the join in the fallback reason. */
  private def semiProbe(j: SparkPlan, lks: Seq[Expression], left: SparkPlan, what: String)(
      exec: (Seq[Int], Seq[DataType], Seq[Int]) => SparkPlan): SparkPlan =
    probeKeys(lks, left) match {
      case Some((keyOrds, keyTypes))
          if left.supportsColumnar && j.output.forall(ordinal(left, _) >= 0) =>
        exec(keyOrds, keyTypes, j.output.map(ordinal(left, _)))
      case _ if left.supportsColumnar =>
        declined(j, s"$what not columnar-probeable (needs integral attribute keys " +
          "packing into 8 bytes, or a single string/date/timestamp key)")
      case _ => rowStream(j, left)
    }
}
