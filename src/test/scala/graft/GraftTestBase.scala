package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared-session test base (pattern: reference CometTestBase.scala:
  * 159-283 — dual-run differential testing, adapted: our "two engines"
  * are Spark under different physical-planning configs, which must never
  * change results).
  */
object GraftTestBase {
  lazy val spark: SparkSession = GraftSession(4, Seq("spark.app.name" -> "graft-test"))

  /** Data-root convention: every fixture dir hangs off one root
    * (override with SPARK_GRAFT_DATA_ROOT on machines with the parquet
    * elsewhere). Suites that need a non-default scale must
    * `assume`-skip when its dir is absent rather than fail.
    */
  val dataRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_DATA_ROOT", "/root/testdata")
  val sfDir = s"$dataRoot/sf0.001"
  /** The driver's correctness scale (sf0.01) — order-totality and
    * type-parity audits run here because the defects they pin do not
    * exist at sf0.001. */
  val sfDriverDir = s"$dataRoot/sf0.01"
}

abstract class GraftTestBase extends AnyFunSuite with BeforeAndAfterAll {
  def spark: SparkSession = GraftTestBase.spark
  def sfDir: String = GraftTestBase.sfDir

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  /** Canonical row-set image of a result (rows sorted as strings, so
    * query-internal ORDER BY plus set semantics both compare cleanly).
    */
  def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Run `body` with configs temporarily set, restoring previous values. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Dual-run check: the physical-planning config must not change the
    * result. Catches operators whose semantics silently depend on
    * codegen or on a broadcast-vs-shuffle plan choice.
    */
  def checkInvariantUnder(df: => DataFrame, configs: Seq[(String, String)]): Unit = {
    val base = canon(df)
    val alt = withSQLConf(configs: _*)(canon(df))
    assert(base == alt,
      s"result changed under ${configs.mkString(",")}:\n base=${base.take(5)}\n alt=${alt.take(5)}")
  }
}
