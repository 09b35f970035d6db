package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Data-layout and sketch-lifecycle operators.
  *
  * q150 is the table-layout side of scan pruning: Z-ORDER clustering.
  * Parquet pruning (the PushedFilters the plan suite pins) only skips
  * row groups whose min/max stats exclude the predicate — which is a
  * property of HOW THE DATA WAS LAID OUT at write time. Sorting by one
  * column gives perfect stats on that column and useless stats on every
  * other; interleaving the bits of two columns (the Z-order
  * space-filling curve) gives bounded min/max RECTANGLES on both, so
  * predicates on either column skip most buckets. The reference's scan
  * operator consumes such stats (CometScan row-group pruning,
  * spark/src/main/scala/org/apache/spark/sql/comet/CometScanExec.scala);
  * producing well-clustered files is the engine-side half a 100 TB
  * warehouse needs. Everything here is deterministic integer math on
  * IEEE doubles ≤ 2^53, so the oracle replays it exactly.
  *
  * q151 is the sketch-lifecycle side of corpus statistics: Spark 4.1's
  * approx_top_k_accumulate / _combine / _estimate split the sketch into
  * STORABLE partial states — the production pattern where each daily
  * ingest partition persists its own sketch and corpus-wide top-k is
  * answered later by combining sketches, never by rescanning 100 TB of
  * text. Like q148, estimated counts are order-dependent, so the query
  * treats the sketch as a candidate set and recounts exactly.
  */
object LayoutQueries {

  /** Spread the low 16 bits of `c` to even bit positions (classic
    * magic-number dilation); all BIGINT math in both engines. */
  private def spread(c: Column): Column = {
    val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  def all: Seq[QueryDef] = Seq(

    QueryDef(
      "q150_zorder_layout",
      (s, dir) => {
        import s.implicits._
        // Z-order bucket assignment is PURE MAP-SIDE work: scale each
        // key to 16 bits against the (single-row, broadcast) bounds,
        // interleave bits, take the top 5 bits of z as the bucket — no
        // global sort, no window, no shuffle until the 32-group stats
        // agg. At 100 TB the write path is exactly this plus
        // .repartitionByRange(col("z")) → sortWithinPartitions("z") →
        // parquet, giving every file a bounded (partkey × suppkey)
        // rectangle; the emitted per-bucket min/max ranges ARE the
        // row-group stats a reader would prune against.
        val li = Tables.t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
        val bounds = li.agg(max($"l_partkey").as("maxp"), max($"l_suppkey").as("maxs"))
        val z = li.crossJoin(broadcast(bounds))
          .withColumn("x", floor($"l_partkey" * 65535.0 / $"maxp").cast("long"))
          .withColumn("y", floor($"l_suppkey" * 65535.0 / $"maxs").cast("long"))
          .withColumn("z", spread($"x").bitwiseOR(shiftleft(spread($"y"), 1)))
          .withColumn("bucket", shiftright($"z", 27))
        z.groupBy($"bucket")
          .agg(count(lit(1)).as("n"),
            min($"l_partkey").as("min_p"), max($"l_partkey").as("max_p"),
            min($"l_suppkey").as("min_s"), max($"l_suppkey").as("max_s"))
          .orderBy($"bucket")
      },
      Some("""WITH bounds AS (
          SELECT max(l_partkey) AS maxp, max(l_suppkey) AS maxs FROM lineitem),
        scaled AS (
          SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
            CAST(floor(l_partkey * 65535.0 / maxp) AS BIGINT) AS x,
            CAST(floor(l_suppkey * 65535.0 / maxs) AS BIGINT) AS y
          FROM lineitem, bounds),
        s1 AS (SELECT *,
            (x | (x << 8)) & 16711935 AS xa, (y | (y << 8)) & 16711935 AS ya
          FROM scaled),
        s2 AS (SELECT *,
            (xa | (xa << 4)) & 252645135 AS xb, (ya | (ya << 4)) & 252645135 AS yb
          FROM s1),
        s3 AS (SELECT *,
            (xb | (xb << 2)) & 858993459 AS xc, (yb | (yb << 2)) & 858993459 AS yc
          FROM s2),
        s4 AS (SELECT *,
            (xc | (xc << 1)) & 1431655765 AS xd, (yc | (yc << 1)) & 1431655765 AS yd
          FROM s3),
        zd AS (SELECT l_partkey, l_suppkey, (xd | (yd << 1)) >> 27 AS bucket FROM s4)
        SELECT bucket, count(*) AS n,
          min(l_partkey) AS min_p, max(l_partkey) AS max_p,
          min(l_suppkey) AS min_s, max(l_suppkey) AS max_s
        FROM zd GROUP BY bucket ORDER BY bucket""".stripMargin),
      doc = "Z-order layout clustering: scale both keys to 16 bits against broadcast bounds, magic-number bit interleave, top-5-bits z-bucket — pure map-side assignment (no global sort); per-bucket min/max rectangles are the row-group stats 2-D scan pruning needs."),

    QueryDef(
      "q151_topk_sketch_merge",
      (s, dir) => {
        import s.implicits._
        // Stage 1: ONE sketch per language partition (accumulate — the
        // state a daily ingest would persist alongside its parquet).
        // Stage 2: combine the per-partition sketches into the corpus
        // sketch; estimate proposes ~3x the needed candidates.
        // Stage 3: exact recount of candidates only (broadcast
        // semi-join) — the q148 discipline: sketch counts are
        // processing-order-dependent, candidate membership above the
        // survival threshold is not.
        val docs = Tables.t(s, dir, "documents")
        val terms = docs.select($"lang", explode(split($"text", " ")).as("term"))
        val perLang = terms.groupBy($"lang")
          .agg(expr("approx_top_k_accumulate(term, 10000)").as("sk"))
        // coalesce(1) before the combine: sketches are tiny (that IS
        // the point), and ApproxTopKCombine cannot serialize an EMPTY
        // partial buffer (genSketchSerDe MatchError on the null item
        // type) — with 32 shuffle partitions and a handful of langs,
        // AQE-off leaves empty partitions whose empty combine buffers
        // crash. One partition holding all sketch rows sidesteps the
        // edge and is the right plan anyway.
        val combined = perLang.coalesce(1)
          .agg(expr("approx_top_k_combine(sk, 10000)").as("csk"))
        val cand = combined
          .select(explode(expr("approx_top_k_estimate(csk, 30)")).as("e"))
          .select($"e.item".as("term"))
        terms.join(broadcast(cand), "term")
          .groupBy($"term").agg(count(lit(1)).as("freq"))
          .orderBy($"freq".desc, $"term").limit(10)
      },
      Some("""SELECT term, count(*) AS freq FROM (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term ORDER BY freq DESC, term LIMIT 10"""),
      doc = "approx_top_k sketch lifecycle (Spark 4.1): per-language accumulate → corpus-wide combine → estimate proposes candidates → one broadcast semi-join recounts exactly; partial sketches are storable state, so corpus top-k never rescans history."),

    QueryDef(
      "q164_sorted_run_export",
      (s0, dir) => {
        // Sorted-run export: the write-side layout step at its purest.
        // Each scan split is sorted locally with NO exchange — at
        // 100 TB every task emits one sorted run bounded by
        // maxPartitionBytes, and downstream compaction merges runs
        // (the LSM / table-format compaction write shape; contrast
        // q78, which pays a range exchange first for globally
        // disjoint files). The local sort sits DIRECTLY on the
        // columnar scan→filter→project block, and the 4-column
        // all-numeric output is the NARROW shape the columnar sort
        // serves, on by default after a winning A/B against Tungsten's
        // radix sort (sort.narrow.enabled; wide or string sorts stay on
        // the row sort). The pin verifies the swap, the oracle verifies
        // the row SET (per-partition order is not oracle-checkable).
        val spark = s0
        import spark.implicits._
        Tables.t(spark, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp"))
          .select($"l_orderkey", $"l_linenumber", $"l_shipdate",
            ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("net"))
          .sortWithinPartitions($"l_shipdate", $"l_orderkey", $"l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate,
          l_extendedprice * (1.0 - l_discount) AS net
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01'"""),
      doc = "Sorted-run export: per-split local sort with no exchange — the write-side layout shape whose sort sits directly on the columnar scan; at scale each task emits one bounded sorted run for downstream merge compaction. The narrow all-numeric output swaps to GraftColumnarSortExec by DEFAULT (plan-pinned; the shape's A/B won against Tungsten's sort); wide or string sorts stay on the row sort.")
  )
}
