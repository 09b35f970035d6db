package org.apache.spark.sql.graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnVector
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The contract of every [[ArrayBackedVector]]: the getters a class
  * serves return the stored values, every other getter throws
  * UnsupportedOperationException, and the null counts look only at rows
  * `[0, n)` — producers such as GraftColumnarProjectExec reuse longer
  * arrays across batches.
  */
class ArrayBackedVectorSuite extends AnyFunSuite {
  private def u(s: String) = UTF8String.fromString(s)

  /** Every ColumnVector getter, read at row 0. */
  private val getters: Seq[(String, ColumnVector => Any)] = Seq(
    "getBoolean" -> (_.getBoolean(0)), "getByte" -> (_.getByte(0)),
    "getShort" -> (_.getShort(0)), "getInt" -> (_.getInt(0)),
    "getLong" -> (_.getLong(0)), "getFloat" -> (_.getFloat(0)),
    "getDouble" -> (_.getDouble(0)), "getArray" -> (_.getArray(0)),
    "getMap" -> (_.getMap(0)), "getDecimal" -> (_.getDecimal(0, 10, 2)),
    "getUTF8String" -> (_.getUTF8String(0)), "getBinary" -> (_.getBinary(0)),
    "getChild" -> (_.getChild(0)))

  /** A class under test: its vector over a null mask and row count, and
    * what each getter it serves reads at row 0 (projected to a
    * comparable value). */
  private case class Case(
      name: String,
      make: (Array[Boolean], Int) => ColumnVector,
      live: Map[String, ColumnVector => Any],
      expected: Map[String, Any])

  private val cases = Seq(
    Case("LongBuildVector",
      (nl, n) => new LongBuildVector(LongType, Array(7L, 1L, 2L, 3L, 4L), nl, n),
      Map("getBoolean" -> (_.getBoolean(0)), "getByte" -> (_.getByte(0)),
        "getShort" -> (_.getShort(0)), "getInt" -> (_.getInt(0)), "getLong" -> (_.getLong(0)),
        "getDecimal" -> (_.getDecimal(0, 10, 2))),
      Map("getBoolean" -> true, "getByte" -> 7.toByte, "getShort" -> 7.toShort, "getInt" -> 7,
        "getLong" -> 7L, "getDecimal" -> Decimal(BigDecimal("0.07")))),
    Case("DoubleBuildVector",
      (nl, n) => new DoubleBuildVector(DoubleType, Array(2.5, 1, 2, 3, 4), nl, n),
      Map("getDouble" -> (_.getDouble(0)), "getFloat" -> (_.getFloat(0))),
      Map("getDouble" -> 2.5, "getFloat" -> 2.5f)),
    Case("LongArrayVector",
      (nl, n) => new LongArrayVector(Array(7L, 1L, 2L, 3L, 4L), nl, n, LongType),
      Map("getLong" -> (_.getLong(0)), "getInt" -> (_.getInt(0))),
      Map("getLong" -> 7L, "getInt" -> 7)),
    Case("IntArrayVector",
      (nl, n) => new IntArrayVector(Array(7, 1, 2, 3, 4), nl, n),
      Map("getInt" -> (_.getInt(0))), Map("getInt" -> 7)),
    Case("BooleanArrayVector",
      (nl, n) => new BooleanArrayVector(Array(true, false, true, false, true), nl, n),
      Map("getBoolean" -> (_.getBoolean(0))), Map("getBoolean" -> true)),
    Case("Dec128ArrayVector",
      (nl, n) => new Dec128ArrayVector(Array(0L, 1L, 0L, 0L, 0L), Array(12345L, 0L, 1L, 2L, 3L),
        nl, n, DecimalType(38, 2)),
      Map("getDecimal" -> (_.getDecimal(0, 38, 2))),
      Map("getDecimal" -> Decimal(BigDecimal("123.45")))),
    Case("StringArrayVector",
      (nl, n) => new StringArrayVector(Array("ab", "c", "d", "e", "f").map(u), nl, n),
      Map("getUTF8String" -> (_.getUTF8String(0))), Map("getUTF8String" -> u("ab"))),
    Case("ByteSliceStringVector",
      (nl, n) => new ByteSliceStringVector("xxabcdefgh".getBytes("UTF-8"),
        Array(2, 4, 5, 6, 7), Array(2, 1, 1, 1, 1), nl, n),
      Map("getUTF8String" -> (_.getUTF8String(0))), Map("getUTF8String" -> u("ab"))),
    Case("StringsListVector",
      (nl, n) => new StringsListVector(Array("a", "b", "c").map(u),
        Array(0, 2, 2, 2, 2), Array(2, 1, 0, 0, 0), nl, n),
      Map("getArray" -> (v => (v.getArray(0).numElements(), v.getArray(0).getUTF8String(1))),
        "getChild" -> (_.getChild(0).getUTF8String(2))),
      Map("getArray" -> (2, u("b")), "getChild" -> u("c"))),
    Case("AllNullVector", (_, n) => new AllNullVector(IntegerType, n), Map.empty, Map.empty))

  test("every array-backed vector in ArrayBackedVector.scala has a contract case") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/org/apache/spark/sql/graft/ArrayBackedVector.scala")), "UTF-8")
    val declared = "final class (\\w+)".r.findAllMatchIn(src).map(_.group(1)).toSet
    assert(declared == cases.map(_.name).toSet)
    cases.foreach(c => assert(c.make(new Array[Boolean](1), 1).isInstanceOf[ArrayBackedVector]))
  }

  cases.foreach { c =>
    test(s"${c.name}: live getters read the stored values, the rest throw") {
      val v = c.make(Array(false, true, false, false, false), 3)
      assert(getters.map(_._1).toSet.intersect(c.live.keySet) == c.live.keySet)
      c.live.foreach { case (g, read) => assert(read(v) == c.expected(g), g) }
      getters.filterNot(g => c.live.contains(g._1)).foreach { case (g, read) =>
        withClue(g)(intercept[UnsupportedOperationException](read(v)))
      }
    }

    test(s"${c.name}: hasNull and numNulls ignore entries past n") {
      val clean = c.make(Array(false, false, false, true, true), 3)
      if (c.name == "AllNullVector") {
        assert(clean.hasNull && clean.numNulls == 3 && (0 until 3).forall(clean.isNullAt))
      } else {
        val oneNull = c.make(Array(false, true, false, true, true), 3)
        assert(!clean.hasNull && clean.numNulls == 0)
        assert(oneNull.hasNull && oneNull.numNulls == 1)
        assert(!oneNull.isNullAt(0) && oneNull.isNullAt(1))
      }
    }
  }

  test("LongArrayVector fails on an out-of-range getInt where LongBuildVector truncates") {
    val big = Array(1L << 40)
    val nulls = Array(false)
    intercept[ArithmeticException](new LongArrayVector(big, nulls, 1, IntegerType).getInt(0))
    assert(new LongBuildVector(IntegerType, big, nulls, 1).getInt(0) == (1L << 40).toInt)
  }

  test("Dec128ArrayVector serves values past 64 bits through getDecimal") {
    val v = new Dec128ArrayVector(Array(1L), Array(0L), Array(false), 1, DecimalType(38, 2))
    assert(v.getDecimal(0, 38, 2) == Decimal(BigDecimal(BigInt(1) << 64, 2)))
    assert(v.hiAt(0) == 1L && v.loAt(0) == 0L)
  }
}
