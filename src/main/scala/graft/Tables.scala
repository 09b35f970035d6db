package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the TPC-H-ish testdata layout (TESTDATA.md).
  *
  * At cluster scale the same API points at a directory of many parquet
  * files per table; `spark.read.parquet` parallelizes splits via
  * `spark.sql.files.maxPartitionBytes`, so nothing here is local-mode
  * specific. Filter/projection pushdown is preserved because we return the
  * raw scan DataFrame and let Catalyst push predicates into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session resolved-DataFrame memo (r15). `spark.read.parquet`
    * re-lists the directory and re-reads a footer for schema inference
    * on EVERY call — measured 84 ms per call on this box — and a
    * 217-query bench sweep resolves ~950 table references, all
    * driver-side and inside the timed region. The memo returns the same
    * resolved logical plan per (session, dir, table); every action
    * still scans the parquet from disk (this caches METADATA, never
    * data or results). Safe because Tables.t only ever reads the
    * immutable fixture tables — write-then-read-back queries use
    * spark.read directly on their own output paths. Keyed on the
    * session in a WeakHashMap; note (r15 ADVICE) the cached DataFrames
    * themselves strongly reference their session, so an entry is only
    * collected when the map value is also unreachable — for the
    * one-session bench/verify JVMs this is moot, and a long-lived
    * multi-session process should call [[clearResolved]] on session
    * stop.
    */
  private val dfCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String), DataFrame]]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val per = dfCache.synchronized {
      var m = dfCache.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
        dfCache.put(spark, m)
      }
      m
    }
    per.getOrElseUpdate((dir, name),
      if (name == "events") events(spark, dir)
      else spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Drop a stopped session's resolved-DataFrame memo entries (see the
    * dfCache note: values reference the session, so weak keys alone
    * never collect).
    */
  def clearResolved(spark: SparkSession): Unit =
    dfCache.synchronized { dfCache.remove(spark); () }

  /** Hash-repartition `df` by `key` ONLY when its resolved scan cannot
    * feed the session's shuffle parallelism (guide §2.5 "repartition
    * immediately after an unsplittable read", r16-gated on the actual
    * scan task count per the r15 verdict): the bench fixtures are one
    * row group per file, so every scan is a single task and the
    * repartition is what spreads CPU-heavy per-row work (PII regexes,
    * exact-percentile buffering) across the cores — while a realistic
    * many-file 100 TB scan already parallelizes and must NOT pay a
    * gratuitous full-table exchange. The partition probe reads the
    * planned scan's partition count (driver-side, no job); hash
    * repartition, not round-robin: no sort-before-repartition pass and
    * deterministic under retries.
    *
    * The comparison is against the PLANNED split count
    * (`df.rdd.getNumPartitions`: the file-scan splits after
    * maxPartitionBytes packing), not the row-group or file count of the
    * source: one split may cover several row groups, and a split that
    * holds no row group's midpoint reads nothing.
    */
  def spreadIfNarrow(df: DataFrame,
      key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < target) df.repartition(key) else df
  }

  /** Conf a session SHOULD carry to read events.parquet fixtures that
    * store `ts` as parquet INT64 TIMESTAMP(NANOS) — Spark 4.x rejects that
    * type outright (PARQUET_TYPE_ILLEGAL) unless the legacy conf maps it
    * to a raw long. Set it in the SparkSession builder ([[GraftSession]]
    * does). It is deliberately NOT set inside [[events]]: the conf is
    * re-read at execution time, so save-and-restore around the read breaks
    * lazy execution, and setting it permanently would silently change how
    * unrelated nanos-parquet reads behave for the rest of the session
    * (ADVICE r2). Harmless when the fixture already stores micros.
    */
  val eventsReadConf: (String, String) = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** The fixture's `ts` column has changed physical type across driver
    * regenerations — INT64 TIMESTAMP(NANOS) originally, plain
    * TIMESTAMP(MICROS, ntz) since 2026-08-13 — so dispatch on the loaded
    * Spark type instead of assuming either:
    *
    *   - LongType: the nanos fixture read through [[eventsReadConf]];
    *     truncate to micros — identical to what DuckDB does on read (its
    *     TIMESTAMP is micros). All values are post-epoch, so integer
    *     division truncation == cast truncation.
    *   - TimestampNTZType: the micros fixture; cast to TimestampType so
    *     every downstream consumer sees the exact type the nanos path
    *     produced. The session timezone is pinned to UTC (Verify/Bench/
    *     tests), so the cast does not reinterpret the instant.
    *   - TimestampType: use as-is.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType        => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType   => raw
      case other => throw new IllegalStateException(
        s"events.parquet ts has unsupported type $other; expected long (nanos fixture), " +
          "timestamp_ntz, or timestamp")
    }
  }

  /** Register tables of `dir` as temp views so queries can use
    * `spark.sql` — the same names the DuckDB oracle uses. Register only
    * what the query needs: an unreadable table must not poison unrelated
    * SQL (ADVICE r1).
    */
  def registerViews(spark: SparkSession, dir: String,
      only: Seq[String] = names): Unit =
    only.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}

/** One inventory entry: a Spark implementation plus (when SQL-expressible)
  * a DuckDB oracle over the same tables. Column names must match exactly —
  * the driver sorts columns by name before hashing.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object QueryDef {
  /** Load a golden VALUES-table oracle from the classpath
    * (src/main/resources/golden/, generated once from the sf0.01 output
    * via tools/make_golden.py — the q80 literal-oracle pattern). Used for
    * queries whose values are Spark-defined (xxhash64/murmur3/sha1) and
    * so have no computable DuckDB twin: the pinned snapshot makes them
    * regression-checked rather than rows-only. Tied to sf0.01, the
    * driver's correctness scale.
    */
  def golden(name: String): String = {
    val in = getClass.getResourceAsStream(s"/golden/$name.sql")
    require(in != null, s"missing golden oracle resource: $name")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
}
