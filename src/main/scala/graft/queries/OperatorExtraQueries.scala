package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Remaining SURVEY §2.1 physical-operator rows not yet pinned by a
  * query: parquet write (#23), CSV scan (#3), LocalTableScan (#4),
  * Coalesce (#18), CollectLimit (#19), SortMergeJoin (#15, forced via
  * merge hint — at sf0.01 everything is broadcast-sized so SMJ never
  * plans organically), scalar subquery (#24).
  */
object OperatorExtraQueries {

  /** Bucketed-table layout for q94, memoized per (session, sf dir):
    * bucketing is a ONE-TIME layout precomputation (the 100 TB analogue
    * is a table maintained bucketed on disk), so the repeated-run bench
    * should measure the co-located join, not re-write the layout every
    * run. First call per session+dir pays the write; the bench's
    * min-of-N then reports the join itself.
    */
  private val bucketedReady =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())

  private def ensureBucketed(s: org.apache.spark.sql.SparkSession, dir: String,
      ordersTbl: String, custTbl: String): Unit = {
    import s.implicits._
    val key = s"${System.identityHashCode(s)}:$dir"
    if (!bucketedReady.contains(key)) bucketedReady.synchronized {
      if (!bucketedReady.contains(key)) {
        val base = s"/tmp/graft_bucketed/${java.util.UUID.randomUUID()}"
        // repartition on the bucket column first: bucket id and shuffle
        // partition use the same murmur3 hash, so every bucket lands in
        // exactly ONE file — the precondition for the scan to trust the
        // sortBy order and drop the read-side Sort too.
        Tables.t(s, dir, "orders").repartition(8, $"o_custkey")
          .write.format("parquet")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$base/orders")
          .mode("overwrite").saveAsTable(ordersTbl)
        Tables.t(s, dir, "customer").repartition(8, $"c_custkey")
          .write.format("parquet")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$base/customer")
          .mode("overwrite").saveAsTable(custTbl)
        bucketedReady.add(key)
      }
    }
  }

  def all: Seq[QueryDef] = Seq(

    QueryDef(
      "q137_cached_scan",
      (s, dir) => {
        import s.implicits._
        // Spark's cache IS a columnar store (InMemoryRelation holds
        // compressed column batches; scans read them via
        // InMemoryTableScan): cache a filtered projection once, then
        // aggregate twice over the cached batches — the iterative-ML /
        // dashboard access pattern. At scale MEMORY_AND_DISK spills
        // per-partition; the cache key is the plan, so both consumers
        // below share one materialization. Cached per (session, dir)
        // like the q94 bucket layout — the bench's min-of-N measures
        // cached-scan reads, not re-materialization.
        val cached = Tables.t(s, dir, "orders")
          .filter($"o_orderstatus" =!= "P")
          .select($"o_custkey", $"o_totalprice", $"o_orderpriority")
          .cache()
        val byPrio = cached.groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
        val overall = cached.agg(
          count(lit(1)).as("n"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
          .select(lit("ALL").as("o_orderpriority"), $"n", $"total")
        byPrio.unionAll(overall).orderBy($"o_orderpriority")
      },
      Some("""WITH src AS (
          SELECT o_custkey, o_totalprice, o_orderpriority FROM orders
          WHERE o_orderstatus <> 'P')
        SELECT o_orderpriority, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM src GROUP BY o_orderpriority
        UNION ALL
        SELECT 'ALL', count(*),
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM src
        ORDER BY o_orderpriority"""),
      doc = "Columnar cache: InMemoryRelation compressed column batches shared by two aggregations over one materialization (InMemoryTableScan pinned in plan)."),

    QueryDef(
      "q60_parquet_write_roundtrip",
      (s, dir) => {
        import s.implicits._
        // Native parquet write + re-scan: results must equal querying the
        // source directly (the oracle does exactly that).
        val out = s"/tmp/graft_roundtrip/${java.util.UUID.randomUUID()}"
        Tables.t(s, dir, "supplier")
          .filter($"s_nationkey" < 10)
          .write.mode("overwrite").parquet(out)
        val back = s.read.parquet(out)
        back.groupBy($"s_nationkey")
          .agg(count(lit(1)).as("n"),
            sum($"s_suppkey").as("key_sum"))
          .orderBy($"s_nationkey")
      },
      Some("""SELECT s_nationkey, count(*) AS n, CAST(sum(s_suppkey) AS BIGINT) AS key_sum
        FROM supplier WHERE s_nationkey < 10
        GROUP BY s_nationkey ORDER BY s_nationkey"""),
      doc = "Parquet write + read-back roundtrip (InsertIntoHadoopFsRelation / FileSourceScan)."),

    QueryDef(
      "q61_csv_roundtrip",
      (s, dir) => {
        import s.implicits._
        val out = s"/tmp/graft_csv/${java.util.UUID.randomUUID()}"
        Tables.t(s, dir, "region")
          .select($"r_regionkey", $"r_name")
          .write.mode("overwrite").option("header", "true").csv(out)
        s.read.option("header", "true").option("inferSchema", "false")
          .schema("r_regionkey LONG, r_name STRING")
          .csv(out)
          .orderBy($"r_regionkey")
      },
      Some("""SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"""),
      doc = "CSV write + schema'd CSV scan."),

    QueryDef(
      "q62_local_table_scan",
      (s, dir) => {
        import s.implicits._
        // LocalTableScanExec: in-memory rows joined against a real table.
        val tiers = Seq((0L, "low"), (1L, "mid"), (2L, "high"))
          .toDF("tier_key", "tier_name")
        Tables.t(s, dir, "region")
          .join(broadcast(tiers), ($"r_regionkey" % 3) === $"tier_key")
          .select($"r_regionkey", $"r_name", $"tier_name")
          .orderBy($"r_regionkey")
      },
      Some("""SELECT r_regionkey, r_name, tier_name
        FROM region JOIN (VALUES (0, 'low'), (1, 'mid'), (2, 'high')) AS t(tier_key, tier_name)
          ON r_regionkey % 3 = tier_key
        ORDER BY r_regionkey"""),
      doc = "LocalTableScan (createDataFrame) broadcast-joined to a table."),

    QueryDef(
      "q63_coalesce_collectlimit",
      (s, dir) => {
        import s.implicits._
        // coalesce(n) merges partitions without a shuffle; the aggregate
        // result is partitioning-invariant so the oracle holds. The final
        // sorted single-partition limit plans CollectLimit/TakeOrdered.
        Tables.t(s, dir, "lineitem")
          .coalesce(4)
          .groupBy($"l_linestatus")
          .agg(count(lit(1)).as("n"))
          .orderBy($"l_linestatus")
          .coalesce(1)
          .limit(5)
      },
      Some("""SELECT l_linestatus, count(*) AS n FROM lineitem
        GROUP BY l_linestatus ORDER BY l_linestatus LIMIT 5"""),
      doc = "Shuffle-free partition coalesce + sorted limit (CollectLimit path)."),

    QueryDef(
      "q64_sort_merge_join",
      (s, dir) => {
        import s.implicits._
        // Force SMJ with the merge hint — the plan the same join takes at
        // 100 TB where neither side broadcasts. Pinned by the test suite
        // (asserts SortMergeJoinExec in the plan).
        val o = Tables.t(s, dir, "orders").hint("merge")
        Tables.t(s, dir, "lineitem")
          .join(o, $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(($"l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
          .orderBy($"o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      doc = "SortMergeJoin forced via merge hint — the large-scale fact-fact join plan."),

    QueryDef(
      "q65_scalar_subquery",
      (s, dir) => {
        Tables.registerViews(s, dir, Seq("orders"))
        s.sql("""
          SELECT o_orderpriority, count(*) AS n_above
          FROM orders
          WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                       / count(*) FROM orders)
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_above
        FROM orders
        WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                     / count(*) FROM orders)
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "Scalar subquery (mean threshold) — planned as a subquery stage reused by the filter."),

    QueryDef(
      "q69_skew_salted_join",
      (s, dir) => {
        import s.implicits._
        // Skew-mitigation pattern: l_returnflag has 3 values — at 100 TB
        // a shuffle join on it puts a third of the table on one reducer.
        // Salting: replicate the dim across 16 salts, key the fact by
        // (flag, l_orderkey % 16) → 48 evenly-spread join keys; identical
        // result to the plain join (which is what the oracle runs). The
        // shuffle_hash hint keeps it a shuffled join so the demo is real
        // (Spark would otherwise broadcast the 3-row dim).
        val dim = Seq(("A", "returned"), ("N", "normal"), ("R", "refunded"))
          .toDF("flag", "label")
        val saltedDim = dim
          .withColumn("dsalt", explode(sequence(lit(0), lit(15))))
          .hint("shuffle_hash")
        Tables.t(s, dir, "lineitem")
          .withColumn("salt", ($"l_orderkey" % 16).cast("int"))
          .join(saltedDim, $"l_returnflag" === $"flag" && $"salt" === $"dsalt")
          .groupBy($"label")
          .agg(count(lit(1)).as("n"),
            sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
          .orderBy($"label")
      },
      Some("""SELECT label, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem JOIN (VALUES ('A', 'returned'), ('N', 'normal'), ('R', 'refunded')) AS d(flag, label)
          ON l_returnflag = flag
        GROUP BY label ORDER BY label"""),
      doc = "Salted join on a 3-value skewed key: dim replicated x16 salts, fact keyed by (flag, orderkey%16) — result identical to the plain join."),

    QueryDef(
      "q73_generated_ids",
      (s, dir) => {
        import s.implicits._
        // monotonically_increasing_id / spark_partition_id are
        // partitioning-dependent; pinned to a single partition after a
        // total sort they become deterministic: ids 0..n-1 in key order.
        Tables.t(s, dir, "supplier")
          .orderBy($"s_suppkey")
          .coalesce(1)
          .select($"s_suppkey",
            monotonically_increasing_id().as("mid"),
            spark_partition_id().cast("long").as("pid"))
          .filter($"s_suppkey" <= 100)
      },
      Some("""SELECT s_suppkey,
          row_number() OVER (ORDER BY s_suppkey) - 1 AS mid,
          0 AS pid
        FROM supplier QUALIFY s_suppkey <= 100 ORDER BY s_suppkey"""),
      doc = "MonotonicallyIncreasingID + SparkPartitionID, made deterministic via total sort + single partition."),

    QueryDef(
      "q77_dynamic_partition_pruning",
      (s, dir) => {
        import s.implicits._
        // DPP: the fact is partitioned on disk by the join key; the dim
        // carries the selective filter (NOT a literal on the fact), so
        // the partitions to read are only known at runtime — Spark
        // injects a dynamicpruning subquery into the scan's
        // PartitionFilters, reusing the dim's broadcast. At 100 TB this
        // is the difference between scanning one status directory and
        // scanning all of them. (Static pruning is pinned by q72.)
        val base = s"/tmp/graft_dpp/${java.util.UUID.randomUUID()}"
        Tables.t(s, dir, "orders")
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(s"$base/fact")
        // The dim must be a file source: a LocalRelation dim gets its
        // filter constant-folded away before PartitionPruning runs, and
        // no selective predicate remains to justify the DPP subquery.
        Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
          .toDF("status", "label")
          .write.mode("overwrite").parquet(s"$base/dim")
        val fact = s.read.parquet(s"$base/fact")
        val dim = s.read.parquet(s"$base/dim")
        fact.join(dim.filter($"label" === "finished"),
            fact("o_orderstatus") === dim("status"))
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            max($"o_orderkey").as("max_key"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
          CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "Dynamic partition pruning: partitioned fact joined to a filtered dim — scan's PartitionFilters carries a runtime dynamicpruning subquery (pinned by PlanAssertionSuite)."),

    QueryDef(
      "q78_range_repartition",
      (s, dir) => {
        import s.implicits._
        // repartitionByRange (RangePartitioning exchange, sampled
        // boundaries): the layout step before writing clustered output at
        // scale — range-partitioned files give readers min/max pruning on
        // the sort key. The aggregate result is partitioning-invariant,
        // which is what the oracle checks; the range exchange itself is
        // pinned by PlanAssertionSuite.
        Tables.t(s, dir, "lineitem")
          .repartitionByRange(8, $"l_shipdate")
          .sortWithinPartitions($"l_shipdate")
          .groupBy(date_trunc("month", $"l_shipdate").cast("date").as("mon"))
          .agg(count(lit(1)).as("n"),
            sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
          .orderBy($"mon")
      },
      Some("""SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mon, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY 1 ORDER BY 1"""),
      doc = "repartitionByRange(8, l_shipdate) + sortWithinPartitions — range-clustered layout; monthly aggregate is layout-invariant."),

    QueryDef(
      "q94_bucketed_colocated_join",
      (s, dir) => {
        import s.implicits._
        // Bucketed co-located join: both fact sides are written
        // bucketBy(8, join key) + sortBy, so the SortMergeJoin reads
        // bucket-aligned files with NO exchange and NO sort on either
        // side — at 100 TB this is the difference between joining in
        // place and re-shuffling both tables every query. The only
        // exchange left in the plan is the final aggregation's
        // (pinned by PlanAssertionSuite). The merge hint keeps the small
        // test-scale side from broadcasting, which would hide the
        // co-location being demonstrated.
        // UUID external paths: a stale warehouse dir from a previous
        // session would otherwise fail CREATE TABLE (catalog is
        // in-memory, locations are not). Table names carry the sf-dir
        // hash so two dirs in one session get distinct layouts.
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        val (ot, ct) = (s"g_orders_bkt_$sfx", s"g_customer_bkt_$sfx")
        ensureBucketed(s, dir, ot, ct)
        s.table(ot).hint("merge")
          .join(s.table(ct), $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      doc = "Bucketed (bucketBy 8 + sortBy) co-located SortMergeJoin: zero exchanges on the join inputs (pinned); layout write memoized per session+dir — the measured cost is the join, as it would be on a maintained bucketed table."),

    QueryDef(
      "q165_bucketed_shuffled_semi",
      (s, dir) => {
        import s.implicits._
        // Shuffled semi join against a bucketed stream: orders is
        // bucket-partitioned on o_custkey (the q94 layout, memoized),
        // so the STREAM side reaches the join as columnar scan batches
        // with NO exchange; only the filtered customer build side
        // shuffles (SHUFFLE_HASH hint — broadcast would hide the
        // shuffled-build layout being demonstrated). At 100 TB this is
        // the maintained-layout anti/semi shape: the fact table joins
        // in place, and the probe is GraftColumnarShuffledSemiJoinExec
        // (pinned in PlanAssertionSuite).
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        val (ot, ct) = (s"g_orders_bkt_$sfx", s"g_customer_bkt_$sfx")
        ensureBucketed(s, dir, ot, ct)
        val highBal = s.table(ct).filter($"c_acctbal" > 5000.0)
          .select($"c_custkey").hint("shuffle_hash")
        s.table(ot)
          .join(highBal, $"o_custkey" === $"c_custkey", "left_semi")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "Shuffled hash SEMI join with a bucketed stream side: the fact scan joins in place (zero stream exchange, pinned) while only the dimension build shuffles — the maintained-layout probe shape GraftColumnarShuffledSemiJoinExec accelerates."),

    QueryDef(
      "q170_bucketed_shuffled_inner",
      (s, dir) => {
        import s.implicits._
        // INNER twin of q165: same bucketed-stream layout, but the join
        // carries build-side columns through (c_mktsegment), so the
        // probe is GraftColumnarShuffledInnerJoinExec — zero-copy stream
        // gathers via selection vectors, build columns materialized per
        // match (default ON after its winning ~0.84x A/B). At 100 TB
        // this is the maintained-layout fact-to-dim equi-join: the fact
        // table joins in place, only the filtered dimension shuffles.
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        val (ot, ct) = (s"g_orders_bkt_$sfx", s"g_customer_bkt_$sfx")
        ensureBucketed(s, dir, ot, ct)
        val highBal = s.table(ct).filter($"c_acctbal" > 5000.0)
          .select($"c_custkey", $"c_mktsegment").hint("shuffle_hash")
        s.table(ot)
          .join(highBal, $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"),
            sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_acctbal > 5000.0
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      doc = "Shuffled hash INNER join with a bucketed stream side carrying build columns through: the fact scan joins in place while only the filtered dimension shuffles — the GraftColumnarShuffledInnerJoinExec probe shape (default ON, ~0.84x A/B)."),

    QueryDef(
      "q171_bucketed_shuffled_left_outer",
      (s, dir) => {
        import s.implicits._
        // LEFT OUTER twin of q170: same bucketed-stream layout, misses
        // survive with null build lanes (every order keeps its row; the
        // UNMATCHED bucket counts customers at/below the balance bar).
        // The probe is the same GraftColumnarShuffledInnerJoinExec with
        // leftOuter=true — a miss costs one null-build row, so the
        // inner A/B carries. At 100 TB this is the maintained-layout
        // enrichment join: annotate the fact table in place, keep rows
        // the dimension can't explain.
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        val (ot, ct) = (s"g_orders_bkt_$sfx", s"g_customer_bkt_$sfx")
        ensureBucketed(s, dir, ot, ct)
        val highBal = s.table(ct).filter($"c_acctbal" > 5000.0)
          .select($"c_custkey", $"c_mktsegment").hint("shuffle_hash")
        s.table(ot)
          .join(highBal, $"o_custkey" === $"c_custkey", "left_outer")
          .groupBy(coalesce($"c_mktsegment", lit("UNMATCHED")).as("segment"))
          .agg(count(lit(1)).as("n"),
            sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
          .orderBy($"segment")
      },
      Some("""SELECT COALESCE(c_mktsegment, 'UNMATCHED') AS segment, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders LEFT JOIN (
          SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000.0) d
          ON o_custkey = d.c_custkey
        GROUP BY 1 ORDER BY 1"""),
      doc = "Shuffled hash LEFT OUTER join with a bucketed stream side: every fact row survives (misses carry null build lanes into an UNMATCHED bucket) while only the filtered dimension shuffles — GraftColumnarShuffledInnerJoinExec with leftOuter=true."),

    QueryDef(
      "q177_bucketed_shuffled_right_outer",
      (s, dir) => {
        import s.implicits._
        // RIGHT OUTER twin of q170: the BUILD side is preserved — every
        // high-balance customer survives even with zero qualifying
        // orders. The probe is GraftColumnarShuffledInnerJoinExec with
        // buildOuter=true: matched keys marked in a BitSet during the
        // probe, then an end-of-stream sweep over valuesWithKeyIndex
        // emits unmatched build rows once with null stream lanes (the
        // row SHJ's own SPARK-36612 mechanism). At 100 TB this is the
        // dimension-coverage audit: which dimension rows does the fact
        // table never reference — fact joins in place, only the
        // dimension shuffles.
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        val (ot, ct) = (s"g_orders_bkt_$sfx", s"g_customer_bkt_$sfx")
        ensureBucketed(s, dir, ot, ct)
        val highBal = s.table(ct).filter($"c_acctbal" > 5000.0)
          .select($"c_custkey", $"c_mktsegment").hint("shuffle_hash")
        s.table(ot)
          .join(highBal, $"o_custkey" === $"c_custkey", "right_outer")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"),
            count($"o_orderkey").as("n_orders"),
            sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
          count(o_orderkey) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders RIGHT JOIN (
          SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000.0) d
          ON o_custkey = d.c_custkey
        GROUP BY 1 ORDER BY 1"""),
      doc = "Shuffled hash RIGHT OUTER join with a bucketed stream side: unmatched build (dimension) rows are swept out with null stream lanes after the probe — GraftColumnarShuffledInnerJoinExec with buildOuter=true (matched-key BitSet + valuesWithKeyIndex sweep)."),

    QueryDef(
      "q178_bucketed_shuffled_full_outer",
      (s, dir) => {
        import s.implicits._
        // FULL OUTER twin: both sides preserved — orders outside the
        // high-balance dimension land in UNMATCHED, customers with no
        // orders carry null order lanes. leftOuter + buildOuter
        // together: null-build rows per stream miss AND the
        // unmatched-build sweep.
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        val (ot, ct) = (s"g_orders_bkt_$sfx", s"g_customer_bkt_$sfx")
        ensureBucketed(s, dir, ot, ct)
        val highBal = s.table(ct).filter($"c_acctbal" > 5000.0)
          .select($"c_custkey", $"c_mktsegment").hint("shuffle_hash")
        s.table(ot)
          .join(highBal, $"o_custkey" === $"c_custkey", "full_outer")
          .groupBy(coalesce($"c_mktsegment", lit("UNMATCHED")).as("segment"))
          .agg(count(lit(1)).as("n"),
            count($"o_orderkey").as("n_orders"),
            sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
          .orderBy($"segment")
      },
      Some("""SELECT COALESCE(c_mktsegment, 'UNMATCHED') AS segment, count(*) AS n,
          count(o_orderkey) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders FULL JOIN (
          SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000.0) d
          ON o_custkey = d.c_custkey
        GROUP BY 1 ORDER BY 1"""),
      doc = "Shuffled hash FULL OUTER join with a bucketed stream side: stream misses carry null build lanes AND unmatched build rows are swept with null stream lanes — GraftColumnarShuffledInnerJoinExec with leftOuter and buildOuter both set."),

    QueryDef(
      "q172_bucketed_sorted_export",
      (s, dir) => {
        import s.implicits._
        // Bucket-aligned sorted export: per-bucket local sort with NO
        // exchange over a bucketed table — the layout-maintenance write
        // shape (re-sort each bucket's file for downstream merge/SMJ
        // reads). A bucketed scan is ONE partition per bucket,
        // size-unbounded, so this shape was gate-refused while the
        // columnar sort couldn't spill; with sorted-run spill + k-way
        // merge it swaps (plan-pinned), and an oversized bucket degrades
        // to run IO exactly like Tungsten's external sorter. The oracle
        // verifies the row SET (per-bucket order is not
        // oracle-checkable).
        val sfx = java.lang.Integer.toHexString(dir.hashCode)
        val (ot, ct) = (s"g_orders_bkt_$sfx", s"g_customer_bkt_$sfx")
        ensureBucketed(s, dir, ot, ct)
        // A plain sort exploits no bucketing, so Spark's
        // DisableUnnecessaryBucketedScan would fall back to file-split
        // partitions; a layout-maintenance job wants the per-BUCKET
        // read, so pin it on a cloned session (runtime confs copied —
        // the dual-run axes survive; tables live in the shared catalog).
        val s2 = s.newSession()
        s.conf.getAll.foreach { case (k, v) =>
          try s2.conf.set(k, v) catch { case _: Exception => () }
        }
        s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        s2.table(ot)
          .select("o_custkey", "o_orderkey", "o_totalprice")
          .sortWithinPartitions("o_custkey", "o_totalprice", "o_orderkey")
      },
      Some("SELECT o_custkey, o_orderkey, o_totalprice FROM orders"),
      doc = "Bucket-aligned sorted export: per-bucket local sort with zero exchanges over the bucketed orders layout — swaps to GraftColumnarSortExec (pinned) now that sorted-run spill makes unbounded bucket partitions safe; the 3-column all-numeric output is the narrow shape the columnar sort serves by default."),

    QueryDef(
      "q173_date_key_semi",
      (s, dir) => {
        import s.implicits._
        // Time-dim semi join on a TIMESTAMP equi-key: the partition-date
        // shape (keep fact rows whose day is in a flagged-day dim).
        // Date/timestamp keys are not IntegralType, so Spark never packs
        // them into a LongHashedRelation — the columnar semi probe goes
        // through the 1-field UnsafeRow path against the same
        // UnsafeHashedRelation the row join would probe. The dim is
        // tiny (one month of distinct ship dates) and broadcast.
        val li = Tables.t(s, dir, "lineitem")
        val dim = li
          .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1995-02-01").cast("timestamp"))
          .select($"l_shipdate".as("flag_day")).distinct()
        li.join(broadcast(dim), $"l_shipdate" === $"flag_day", "left_semi")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem WHERE l_shipdate IN (
          SELECT DISTINCT l_shipdate FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1995-02-01')
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "Flagged-day semi join on a timestamp equi-key: broadcast time dim probed columnar through the 1-field UnsafeRow path (date/timestamp keys never pack into a LongHashedRelation) — the partition-date join shape at corpus scale."),

    QueryDef(
      "q174_decimal_avg",
      (s, dir) => {
        import s.implicits._
        // Money-column averages through the EXACT Decimal64 kernel:
        // avg(decimal p<=18) partial-aggregates columnar as (unscaled
        // long sum with BigInteger escape, count) — Spark's Average
        // decimal buffer — so the mean is exact before the final
        // divide. The check columns stay DECIMAL end-to-end: Spark's
        // avg(decimal(p,s)) is decimal(p+4,s+4) with one HALF_UP
        // rounding at the final divide, and the oracle reproduces that
        // exact quantization from DuckDB's exact decimal SUM via
        // unscaled-hugeint arithmetic (floor((2*su*10^4 + n)/(2n)) ==
        // round-half-up for the positive sums here). DuckDB's own
        // avg(DECIMAL)/decimal-division return DOUBLE (double
        // accumulation, ~1e-8 off the exact quantized mean), so a
        // double-surfaced comparison would ride the normalizer's
        // 6-sig-digit boundary — the q176 flake class.
        // SURFACE: the quantized means travel as BIGINT MICRO-UNITS
        // (avg * 10^6, exact by construction) so the driver compares
        // plain integers — no decimal rendering, result-scale rules,
        // HUGEINT arithmetic, or chained decimal casts on either side
        // (r10's driver-red q174 used all four; they are exactly where
        // DuckDB versions diverge). The engine exercise is unchanged:
        // avg(decimal) still runs the columnar Decimal64 kernel, and
        // the *1e6 cast is a post-agg projection.
        Tables.t(s, dir, "lineitem")
          .select($"l_linestatus",
            $"l_quantity".cast("decimal(12,2)").as("qty"),
            $"l_extendedprice".cast("decimal(14,2)").as("price"))
          .groupBy($"l_linestatus")
          .agg(avg($"qty").as("aq"), avg($"price").as("ap"),
            count(lit(1)).as("n"))
          .select($"l_linestatus",
            ($"aq" * 1000000).cast("long").as("avg_qty_micros"),
            ($"ap" * 1000000).cast("long").as("avg_price_micros"),
            $"n")
          .orderBy($"l_linestatus")
      },
      // round-half-up((s*10^4)/n) in pure BIGINT div+mod (positive
      // operands only, so floor == truncate on every DuckDB version);
      // magnitudes stay < 2^55 through sf1 — the oracle runs at sf0.01
      Some("""WITH g AS (
          SELECT l_linestatus,
            CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100, 0) AS BIGINT) AS sq,
            CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))) * 100, 0) AS BIGINT) AS sp,
            count(*) AS n
          FROM lineitem GROUP BY l_linestatus)
        SELECT l_linestatus,
          (sq * 10000) // n
            + CASE WHEN 2 * ((sq * 10000) % n) >= n THEN 1 ELSE 0 END
            AS avg_qty_micros,
          (sp * 10000) // n
            + CASE WHEN 2 * ((sp * 10000) % n) >= n THEN 1 ELSE 0 END
            AS avg_price_micros,
          n
        FROM g ORDER BY l_linestatus"""),
      doc = "Decimal64 money averages: avg(decimal p<=18) partial-aggregates columnar on the exact unscaled-long kernel (AvgDec64Spec) — sums never round before the final divide."),

    QueryDef(
      "q114_aqe_skew_join",
      (s, dir) => {
        import s.implicits._
        // Heavily skewed join: ~90% of fact rows share one hot key, so
        // one shuffle partition receives nearly the whole fact side.
        // The 100 TB remedies are (a) manual salting — demonstrated
        // with exact results by q69 — or (b) AQE's runtime skew-join
        // split (OptimizeSkewedJoin), which carves the oversized
        // partition into advisory-sized slices and replicates the
        // matching dim rows, with NO query rewrite. Correctness is
        // threshold-independent (this oracle run uses defaults); the
        // skew=true split itself is pinned in EngineSuite with the
        // thresholds lowered to fire at test scale.
        // repartition(16) models real ingest parallelism: AQE can only
        // split a skewed reduce partition along MAP-output boundaries,
        // and the tiny test file arrives as ONE mapper (a 100 TB fact
        // never does). Results are unaffected.
        val fact = Tables.t(s, dir, "lineitem")
          .repartition(16)
          .select(
            when($"l_orderkey" % 10 === 0, ($"l_orderkey" % 1500) + 1)
              .otherwise(lit(7L)).as("k"),
            $"l_quantity")
        val dim = Tables.t(s, dir, "customer")
          .select($"c_custkey".as("k"), $"c_mktsegment")
        fact.hint("merge").join(dim, Seq("k"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            round(sum($"l_quantity"), 2).as("qty"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_rows, round(sum(l_quantity), 2) AS qty
        FROM (SELECT CASE WHEN l_orderkey % 10 = 0 THEN (l_orderkey % 1500) + 1
                          ELSE 7 END AS k, l_quantity
              FROM lineitem) f
        JOIN customer ON f.k = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      doc = "Skewed join (one hot key holds ~90% of the fact side) handled by AQE's runtime skew-join split — the no-rewrite alternative to q69's manual salting; skew=true split pinned in EngineSuite.")
  )
}
