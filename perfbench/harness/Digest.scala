package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query result, with the normalization of
  * the catalog's DuckDB oracle check: columns sorted by name, floats
  * compared at 6 significant digits, NULL/NaN/infinities spelled out,
  * nested values rendered recursively. The digest is the row count plus
  * two independent 64-bit sums of per-row hashes, so row order never
  * matters and no sort of the result is needed.
  */
object Digest {
  def of(df: DataFrame): String = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    // The sums commute, so each partition is reduced where it is computed
    // and only three longs per partition reach the driver.
    val (n, h1, h2) = df.rdd.mapPartitions { rows =>
      var n = 0L
      var h1 = 0L
      var h2 = 0L
      rows.foreach { r =>
        val s = order.map(i => norm(r.get(i))).mkString("\u0001")
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        h1 += scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c074a61).toLong * 0x9E3779B97F4A7C15L +
          scala.util.hashing.MurmurHash3.bytesHash(b, 0x5bd1e995)
        h2 += java.util.Arrays.hashCode(b).toLong * 0xC2B2AE3D27D4EB4FL + s.length
        n += 1
      }
      Iterator((n, h1, h2))
    }.fold((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    f"${order.map(names(_)).mkString(",")}|$n|$h1%016x$h2%016x"
  }

  private def sig6(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros().toString

  def norm(v: Any): String = v match {
    case null => "NULL"
    case d: Double => sig6(d)
    case f: Float => sig6(f.toDouble)
    case d: java.math.BigDecimal => sig6(d.doubleValue)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case other => other.toString
  }
}
