package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Core relational operator inventory (SURVEY.md §2.1): scan, filter,
  * project, aggregate, all join types, sort/limit/top-K, set ops,
  * rollup/cube/grouping sets, explode, window.
  *
  * Scale notes (100 TB design intent, verified on local[32]):
  *  - Aggregations are expressed with `groupBy().agg()` so Spark plans
  *    partial (map-side) + final aggregation around one shuffle.
  *  - Dimension tables (region/nation/supplier) are broadcast explicitly;
  *    fact-fact joins shuffle on their equi-keys and AQE handles skew.
  *  - Double-typed measures are cast to DECIMAL(18,2) before SUM so the
  *    result is order-independent (exact decimal accumulation) — a
  *    nondeterministic float sum would not be reproducible across runs,
  *    partitionings, or engines. Final cast back to double is one
  *    deterministic conversion.
  */
object RelationalQueries {

  /** Exact, order-independent accumulation type for money-like doubles. */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private val decSql = "DECIMAL(18,2)"
  private def sumDec(c: Column): Column = sum(dec(c)).cast("double")
  private def sumDecSql(c: String): String =
    s"CAST(sum(CAST($c AS $decSql)) AS DOUBLE)"

  def all: Seq[QueryDef] = Seq(

    // ----------------------------------------------------------------
    QueryDef(
      "q01_tpch_q1",
      (s, dir) => {
        import s.implicits._
        val one = lit(1).cast("decimal(18,2)")
        Tables.t(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sumDec($"l_quantity").as("sum_qty"),
            sumDec($"l_extendedprice").as("sum_base_price"),
            sum(dec($"l_extendedprice") * (one - dec($"l_discount")))
              .cast("double").as("sum_disc_price"),
            sum((dec($"l_extendedprice") * (one - dec($"l_discount")))
              .cast("decimal(18,4)") * (one + dec($"l_tax")))
              .cast("double").as("sum_charge"),
            (sumDec($"l_quantity") / count(lit(1))).as("avg_qty"),
            (sumDec($"l_extendedprice") / count(lit(1))).as("avg_price"),
            (sumDec($"l_discount") / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${sumDecSql("l_quantity")} AS sum_qty,
        ${sumDecSql("l_extendedprice")} AS sum_base_price,
        CAST(sum(CAST(l_extendedprice AS $decSql) * (CAST(1 AS $decSql) - CAST(l_discount AS $decSql))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(CAST(l_extendedprice AS $decSql) * (CAST(1 AS $decSql) - CAST(l_discount AS $decSql)) AS DECIMAL(18,4)) * (CAST(1 AS $decSql) + CAST(l_tax AS $decSql))) AS DOUBLE) AS sum_charge,
        ${sumDecSql("l_quantity")} / count(*) AS avg_qty,
        ${sumDecSql("l_extendedprice")} / count(*) AS avg_price,
        ${sumDecSql("l_discount")} / count(*) AS avg_disc,
        count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      doc = "TPC-H Q1: scan→filter→project→partial/final agg→sort. Exercises every structural mechanism; filter pushes to parquet scan."),

    // ----------------------------------------------------------------
    QueryDef(
      "q02_filter_project",
      (s, dir) => {
        import s.implicits._
        val one = lit(1).cast("decimal(18,2)")
        Tables.t(s, dir, "lineitem")
          .filter($"l_quantity".between(10, 30) && $"l_discount" > 0.02 &&
            $"l_returnflag" =!= "A")
          .select(
            $"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            (dec($"l_extendedprice") * (one - dec($"l_discount")))
              .cast("double").as("revenue"),
            concat($"l_returnflag", lit("/"), $"l_linestatus").as("flag"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some(s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        CAST(CAST(l_extendedprice AS $decSql) * (CAST(1 AS $decSql) - CAST(l_discount AS $decSql)) AS DOUBLE) AS revenue,
        l_returnflag || '/' || l_linestatus AS flag
        FROM lineitem
        WHERE l_quantity BETWEEN 10 AND 30 AND l_discount > 0.02 AND l_returnflag <> 'A'
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "Filter + arithmetic projection; predicate and column pruning push to the scan."),

    // ----------------------------------------------------------------
    QueryDef(
      "q03_join_agg_topk",
      (s, dir) => {
        import s.implicits._
        val one = lit(1).cast("decimal(18,2)")
        val c = Tables.t(s, dir, "customer")
          .filter($"c_mktsegment" === "BUILDING")
          .select($"c_custkey")
        val o = Tables.t(s, dir, "orders")
          .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
        val l = Tables.t(s, dir, "lineitem")
        // customer is the small filtered side → broadcast; orders⋈lineitem
        // shuffles on the join key (both huge at scale).
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy($"o_orderkey", $"o_orderdate", $"o_orderpriority")
          .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount")))
            .cast("double").as("revenue"))
          .orderBy($"revenue".desc, $"o_orderkey")
          .limit(10)
      },
      Some(s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
        CAST(sum(CAST(l_extendedprice AS $decSql) * (CAST(1 AS $decSql) - CAST(l_discount AS $decSql))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey LIMIT 10"""),
      doc = "TPC-H Q3-ish: 3-way join (broadcast dim + shuffled fact-fact), agg, top-K with deterministic tie-break."),

    // ----------------------------------------------------------------
    QueryDef(
      "q04_left_join_agg",
      (s, dir) => {
        import s.implicits._
        val perOrder = Tables.t(s, dir, "lineitem")
          .filter($"l_quantity" > 40)
          .groupBy($"l_orderkey").agg(count(lit(1)).as("n_items"))
        Tables.t(s, dir, "orders")
          .join(perOrder, $"o_orderkey" === $"l_orderkey", "left")
          .select($"o_orderkey", coalesce($"n_items", lit(0L)).as("n_big_items"))
          .groupBy($"n_big_items").agg(count(lit(1)).as("n_orders"))
          .orderBy($"n_big_items")
      },
      Some("""SELECT n_big_items, count(*) AS n_orders FROM (
          SELECT o_orderkey, coalesce(n_items, 0) AS n_big_items
          FROM orders LEFT JOIN (
            SELECT l_orderkey, count(*) AS n_items FROM lineitem
            WHERE l_quantity > 40 GROUP BY l_orderkey) li
          ON o_orderkey = li.l_orderkey)
        GROUP BY n_big_items ORDER BY n_big_items"""),
      doc = "Left outer join against pre-aggregated subquery (aggregate-before-join shrinks the shuffle)."),

    // ----------------------------------------------------------------
    QueryDef(
      "q05_semi_join",
      (s, dir) => {
        import s.implicits._
        val l = Tables.t(s, dir, "lineitem").filter($"l_quantity" >= 49)
        Tables.t(s, dir, "orders")
          .join(l, $"o_orderkey" === $"l_orderkey", "left_semi")
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), sumDec($"o_totalprice").as("total"))
          .orderBy($"o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n, ${sumDecSql("o_totalprice")} AS total
        FROM orders WHERE EXISTS (
          SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      doc = "Left-semi join (EXISTS); semi-join dedups build side before probing."),

    // ----------------------------------------------------------------
    QueryDef(
      "q06_anti_join",
      (s, dir) => {
        import s.implicits._
        val l = Tables.t(s, dir, "lineitem").filter($"l_quantity" > 45)
        Tables.t(s, dir, "orders")
          .join(l, $"o_orderkey" === $"l_orderkey", "left_anti")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n
        FROM orders WHERE NOT EXISTS (
          SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "Left-anti join (NOT EXISTS)."),

    // ----------------------------------------------------------------
    QueryDef(
      "q07_full_outer_join",
      (s, dir) => {
        import s.implicits._
        val c = Tables.t(s, dir, "customer").filter($"c_nationkey" < 15)
          .groupBy($"c_nationkey").agg(count(lit(1)).as("n_cust"))
        val p = Tables.t(s, dir, "supplier").filter($"s_nationkey" >= 10)
          .groupBy($"s_nationkey").agg(count(lit(1)).as("n_supp"))
        c.join(p, $"c_nationkey" === $"s_nationkey", "full_outer")
          .select(
            coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
            coalesce($"n_cust", lit(0L)).as("n_cust"),
            coalesce($"n_supp", lit(0L)).as("n_supp"))
          .orderBy($"nationkey")
      },
      Some("""SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
          coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer WHERE c_nationkey < 15 GROUP BY c_nationkey) c
        FULL OUTER JOIN (SELECT s_nationkey, count(*) AS n_supp FROM supplier WHERE s_nationkey >= 10 GROUP BY s_nationkey) p
        ON c_nationkey = s_nationkey
        ORDER BY nationkey"""),
      doc = "Full outer join with unmatched rows on both sides."),

    // ----------------------------------------------------------------
    QueryDef(
      "q08_null_aware_anti",
      (s, dir) => {
        Tables.registerViews(s, dir, Seq("customer", "supplier"))
        // NOT IN over a nullable subquery → Spark plans a null-aware anti
        // join (the reference's hardest join case, SURVEY §7.4).
        s.sql("""SELECT c_mktsegment, count(*) AS n
          FROM customer
          WHERE c_nationkey NOT IN (SELECT nullif(s_nationkey, -1) FROM supplier WHERE s_nationkey < 5)
          GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some("""SELECT c_mktsegment, count(*) AS n
        FROM customer
        WHERE c_nationkey NOT IN (SELECT nullif(s_nationkey, -1) FROM supplier WHERE s_nationkey < 5)
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      doc = "Null-aware anti join (NOT IN with nullable subquery)."),

    // ----------------------------------------------------------------
    QueryDef(
      "q09_cross_join",
      (s, dir) => {
        import s.implicits._
        val r1 = Tables.t(s, dir, "region").select($"r_regionkey".as("k1"), $"r_name".as("name1"))
        val r2 = Tables.t(s, dir, "region").select($"r_regionkey".as("k2"), $"r_name".as("name2"))
        r1.crossJoin(r2).filter($"k1" < $"k2")
          .select($"name1", $"name2").orderBy($"name1", $"name2")
      },
      Some("""SELECT a.r_name AS name1, b.r_name AS name2
        FROM region a CROSS JOIN region b
        WHERE a.r_regionkey < b.r_regionkey ORDER BY 1, 2"""),
      doc = "Cartesian product (tiny dims only — never viable fact×fact at scale)."),

    // ----------------------------------------------------------------
    QueryDef(
      "q10_sort_limit_offset",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "orders")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
          .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
          .offset(5).limit(20)
      },
      Some("""SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 5"""),
      doc = "Global sort + limit/offset; Spark plans TakeOrderedAndProject (per-partition top-K, single merge)."),

    // ----------------------------------------------------------------
    QueryDef(
      "q11_topk",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "part")
          .orderBy($"p_retailprice".desc, $"p_partkey")
          .limit(15)
          .select($"p_partkey", $"p_name", $"p_retailprice")
      },
      Some("""SELECT p_partkey, p_name, p_retailprice FROM part
        ORDER BY p_retailprice DESC, p_partkey LIMIT 15"""),
      doc = "Top-K (TakeOrderedAndProjectExec): no full sort, per-partition heap + driver merge."),

    // ----------------------------------------------------------------
    QueryDef(
      "q12_distinct",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "lineitem")
          .select($"l_returnflag", $"l_linestatus").distinct()
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        ORDER BY l_returnflag, l_linestatus"""),
      doc = "Distinct → partial-agg before shuffle (map-side dedup)."),

    // ----------------------------------------------------------------
    QueryDef(
      "q13_union_all",
      (s, dir) => {
        import s.implicits._
        val c = Tables.t(s, dir, "customer").select($"c_nationkey".cast("int").as("k"))
        val p = Tables.t(s, dir, "supplier").select($"s_nationkey".cast("int").as("k"))
        c.unionAll(p).groupBy($"k").agg(count(lit(1)).as("n")).orderBy($"k")
      },
      Some("""SELECT k, count(*) AS n FROM (
          SELECT c_nationkey AS k FROM customer
          UNION ALL SELECT s_nationkey AS k FROM supplier)
        GROUP BY k ORDER BY k"""),
      doc = "UNION ALL: partition concatenation, no shuffle until the agg."),

    // ----------------------------------------------------------------
    QueryDef(
      "q14_union_distinct",
      (s, dir) => {
        import s.implicits._
        val c = Tables.t(s, dir, "customer").select($"c_nationkey".cast("int").as("k"))
        val p = Tables.t(s, dir, "supplier").select($"s_nationkey".cast("int").as("k"))
        c.union(p).distinct().orderBy($"k")
      },
      Some("""SELECT c_nationkey AS k FROM customer
        UNION SELECT s_nationkey AS k FROM supplier ORDER BY k"""),
      doc = "UNION DISTINCT = union + dedup agg."),

    // ----------------------------------------------------------------
    QueryDef(
      "q15_intersect",
      (s, dir) => {
        import s.implicits._
        val c = Tables.t(s, dir, "customer").filter($"c_acctbal" > 0)
          .select($"c_nationkey".cast("int").as("k"))
        val p = Tables.t(s, dir, "supplier").select($"s_nationkey".cast("int").as("k"))
        c.intersect(p).orderBy($"k")
      },
      Some("""SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 0
        INTERSECT SELECT s_nationkey AS k FROM supplier ORDER BY k"""),
      doc = "INTERSECT — Spark plans it as a left-semi join (reference falls back; we inherit)."),

    // ----------------------------------------------------------------
    QueryDef(
      "q16_except",
      (s, dir) => {
        import s.implicits._
        val c = Tables.t(s, dir, "customer").select($"c_nationkey".cast("int").as("k"))
        val p = Tables.t(s, dir, "supplier").filter($"s_nationkey" < 20)
          .select($"s_nationkey".cast("int").as("k"))
        c.except(p).orderBy($"k")
      },
      Some("""SELECT c_nationkey AS k FROM customer
        EXCEPT SELECT s_nationkey AS k FROM supplier WHERE s_nationkey < 20 ORDER BY k"""),
      doc = "EXCEPT — planned as left-anti join."),

    // ----------------------------------------------------------------
    QueryDef(
      "q17_rollup",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"), sumDec($"l_quantity").as("qty"),
            grouping($"l_returnflag").cast("int").as("g1"),
            grouping($"l_linestatus").cast("int").as("g2"))
          .orderBy($"g1", $"g2", $"l_returnflag", $"l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
          ${sumDecSql("l_quantity")} AS qty,
          CAST(grouping(l_returnflag) AS INT) AS g1, CAST(grouping(l_linestatus) AS INT) AS g2
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY g1, g2, l_returnflag, l_linestatus"""),
      doc = "ROLLUP → ExpandExec (N projections per row) + single agg; grouping() disambiguates NULL groups."),

    // ----------------------------------------------------------------
    QueryDef(
      "q18_cube",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "orders")
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            grouping($"o_orderstatus").cast("int").as("g1"),
            grouping($"o_orderpriority").cast("int").as("g2"))
          .orderBy($"g1", $"g2", $"o_orderstatus", $"o_orderpriority")
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          CAST(grouping(o_orderstatus) AS INT) AS g1, CAST(grouping(o_orderpriority) AS INT) AS g2
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY g1, g2, o_orderstatus, o_orderpriority"""),
      doc = "CUBE via ExpandExec."),

    // ----------------------------------------------------------------
    QueryDef(
      "q19_grouping_sets",
      (s, dir) => {
        Tables.registerViews(s, dir, Seq("orders"))
        s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
            CAST(grouping(o_orderstatus) AS INT) AS g1, CAST(grouping(o_orderpriority) AS INT) AS g2
          FROM orders
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          ORDER BY g1, g2, o_orderstatus, o_orderpriority""")
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          CAST(grouping(o_orderstatus) AS INT) AS g1, CAST(grouping(o_orderpriority) AS INT) AS g2
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g1, g2, o_orderstatus, o_orderpriority"""),
      doc = "Explicit GROUPING SETS."),

    // ----------------------------------------------------------------
    QueryDef(
      "q20_explode_wordcount",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "documents")
          .select(explode(split($"text", " ")).as("word"))
          .groupBy($"word").agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"word")
          .limit(30)
      },
      Some("""SELECT word, count(*) AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY word ORDER BY cnt DESC, word LIMIT 30"""),
      doc = "explode(split()) → GenerateExec; classic wordcount. Generate happens before the shuffle so only (word,1) pairs move."),

    // ----------------------------------------------------------------
    QueryDef(
      "q21_posexplode",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "documents")
          .filter($"doc_id" < 10)
          .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "word")))
          .orderBy($"doc_id", $"pos")
      },
      Some("""SELECT doc_id,
          unnest(range(0, len(string_split(text, ' ')))) AS pos,
          unnest(string_split(text, ' ')) AS word
        FROM documents WHERE doc_id < 10 ORDER BY doc_id, pos"""),
      doc = "posexplode — beyond the reference (it only supports explode/explode_outer)."),

    // ----------------------------------------------------------------
    QueryDef(
      "q22_window_running",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.t(s, dir, "events")
          .filter($"user_id" < 50)
          .select($"event_id", $"user_id",
            sum(dec($"value")).over(w).cast("double").as("running_value"),
            count(lit(1)).over(w).as("running_n"))
          .orderBy($"event_id")
      },
      Some(s"""SELECT event_id, user_id,
          CAST(sum(CAST(value AS $decSql)) OVER w AS DOUBLE) AS running_value,
          count(*) OVER w AS running_n
        FROM events WHERE user_id < 50
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY event_id"""),
      doc = "Running aggregate over ROWS window frame; decimal accumulation keeps it exact."),

    // ----------------------------------------------------------------
    QueryDef(
      "q23_window_rank",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.t(s, dir, "orders")
          .filter($"o_custkey" < 100)
          .select($"o_orderkey", $"o_custkey",
            row_number().over(w).as("rn"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            lag($"o_orderkey", 1).over(w).as("prev_key"),
            lead($"o_orderkey", 1).over(w).as("next_key"),
            ntile(4).over(w).as("quartile"),
            first($"o_orderkey").over(wFull).as("first_key"),
            last($"o_orderkey").over(wFull).as("last_key"),
            nth_value($"o_orderkey", 2).over(wFull).as("second_key"),
            round(percent_rank().over(w), 6).as("prk"),
            round(cume_dist().over(w), 6).as("cdist"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
          row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
          lag(o_orderkey, 1) OVER w AS prev_key, lead(o_orderkey, 1) OVER w AS next_key,
          ntile(4) OVER w AS quartile,
          first_value(o_orderkey) OVER wf AS first_key,
          last_value(o_orderkey) OVER wf AS last_key,
          nth_value(o_orderkey, 2) OVER wf AS second_key,
          round(percent_rank() OVER w, 6) AS prk,
          round(cume_dist() OVER w, 6) AS cdist
        FROM orders WHERE o_custkey < 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_orderkey"""),
      doc = "Ranking window functions — beyond the reference (it falls back on rank/row_number/ntile)."),

    // ----------------------------------------------------------------
    QueryDef(
      "q24_window_range",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"o_orderstatus").orderBy($"o_totalprice")
          .rangeBetween(-1000, Window.currentRow)
        Tables.t(s, dir, "orders")
          .filter($"o_custkey" < 200)
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
            count(lit(1)).over(w).as("peers_within_1000"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice,
          count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                         RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS peers_within_1000
        FROM orders WHERE o_custkey < 200
        ORDER BY o_orderkey"""),
      doc = "RANGE window frame with numeric offset."),

    // ----------------------------------------------------------------
    QueryDef(
      "q176_window_streaming_agg",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // The columnar/streaming window swap (GraftColumnarWindowExec):
        // sum/count/min/max/avg over the running ROWS frame on native
        // long/double inputs — these compile to the streaming kernel
        // (pinned in PlanAssertionSuite).
        // ORACLE-ROBUSTNESS: every check column here is EXACT —
        // accumulated lanes run over integral inputs (long sums never
        // lose bits; avg-over-long is an exact-integer double sum < 2^53
        // divided once), and the double lanes appear only as min/max
        // (pure selection, no accumulation). Cross-engine hash equality
        // on ROUNDED accumulated doubles is the wrong contract — a
        // different (legal) accumulation association in the oracle can
        // flip an x.xxxx5 rounding boundary, which is exactly what a
        // driver-side flake flagged in round 9 while the engine was
        // bit-identical in isolation. The double ACCUMULATION kernels
        // stay covered Spark-vs-Spark by DualRunSuite/EngineSuite,
        // where both sides share one association.
        // ORDER BY is a verified TOTAL order — (l_linenumber) alone has
        // ~20% duplicate keys within an l_orderkey in the synthetic
        // data, and a ROWS frame assigns tied rows engine-arbitrary
        // prefixes (the actual root of round 9's unreproducible driver
        // flag on this query: both engines are right under either tie
        // order). (ln, pk, sk) totalizes it.
        val w = Window.partitionBy($"l_orderkey")
          .orderBy($"l_linenumber", $"l_partkey", $"l_suppkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // the FINAL presentation sort is the SAME verified-unique total
        // order as the window's — (ok, ln, pk) alone leaves tied row
        // pairs whose output order is engine-arbitrary, and the driver's
        // hash is order-sensitive (the r10 driver-red root cause)
        Tables.t(s, dir, "lineitem")
          .filter($"l_orderkey" < 4000)
          .withColumn("qty_l", $"l_quantity".cast("long"))
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            sum($"qty_l").over(w).as("run_qty"),
            count($"l_quantity").over(w).as("run_n"),
            sum($"l_partkey").over(w).as("run_pk"),
            round(min($"l_extendedprice").over(w), 4).as("run_min_price"),
            round(max($"l_extendedprice").over(w), 4).as("run_max_price"),
            round(avg($"qty_l").over(w), 6).as("run_avg_qty"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
          CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT) AS run_qty,
          count(l_quantity) OVER w AS run_n,
          CAST(sum(l_partkey) OVER w AS BIGINT) AS run_pk,
          round(min(l_extendedprice) OVER w, 4) AS run_min_price,
          round(max(l_extendedprice) OVER w, 4) AS run_max_price,
          round(avg(CAST(l_quantity AS BIGINT)) OVER w, 6) AS run_avg_qty
        FROM lineitem WHERE l_orderkey < 4000
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "Streaming window aggregation (running ROWS frame) on the GraftColumnarWindowExec swap — long sum/avg, count, double min/max; every lane exact so the oracle check never rides an FP rounding boundary."),

    // ----------------------------------------------------------------
    QueryDef(
      "q179_window_range_peers",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // The DEFAULT frame under ORDER BY: RANGE UNBOUNDED..CURRENT —
        // peer rows (order-key ties) share one value computed over ALL
        // peers. l_linenumber has 7 distinct values per flag, so peer
        // groups are large and the deferred (peer-buffer) path of
        // GraftColumnarWindowExec does real work (pinned; double order
        // keys are excluded from peer detection — -0.0/NaN equality —
        // so the key is integral).
        val w = Window.partitionBy($"l_returnflag").orderBy($"l_linenumber")
        Tables.t(s, dir, "lineitem")
          .filter($"l_orderkey" < 2000)
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey", $"l_returnflag",
            round(sum($"l_extendedprice").over(w), 4).as("run_price"),
            count(lit(1)).over(w).as("run_n"),
            round(avg($"l_discount").over(w), 6).as("run_disc"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
          round(sum(l_extendedprice) OVER w, 4) AS run_price,
          count(*) OVER w AS run_n,
          round(avg(l_discount) OVER w, 6) AS run_disc
        FROM lineitem WHERE l_orderkey < 2000
        WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_linenumber
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "RANGE running frame (the default under ORDER BY): peer-group deferred evaluation on GraftColumnarWindowExec — ties share the value closed at the peer group's end."),

    // ----------------------------------------------------------------
    QueryDef(
      "q180_window_lag_lead",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // Streaming lag/lead (the GraftColumnarWindowExec ring loop,
        // pinned): the sessionization/CDC lookback shape — previous/next
        // event per key with O(k) ring state instead of the row
        // WindowExec's whole buffered partition. Defaults exercise
        // partition edges.
        // (l_linenumber) alone is NOT a total order in the synthetic data
        // (~20% duplicate (ok, ln) keys) and lag/lead over ties is
        // engine-arbitrary — (ln, pk, sk) is verified unique
        val w = Window.partitionBy($"l_orderkey")
          .orderBy($"l_linenumber", $"l_partkey", $"l_suppkey")
        Tables.t(s, dir, "lineitem")
          .filter($"l_orderkey" < 3000)
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            round(lag($"l_extendedprice", 1).over(w), 4).as("prev_price"),
            round(lead($"l_extendedprice", 1, -1.0).over(w), 4).as("next_price"),
            lag($"l_partkey", 2).over(w).as("prev2_part"),
            lead($"l_returnflag", 1, "NONE").over(w).as("next_flag"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
          round(lag(l_extendedprice, 1) OVER w, 4) AS prev_price,
          round(lead(l_extendedprice, 1, -1.0) OVER w, 4) AS next_price,
          lag(l_partkey, 2) OVER w AS prev2_part,
          lead(l_returnflag, 1, 'NONE') OVER w AS next_flag
        FROM lineitem WHERE l_orderkey < 3000
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "Streaming lag/lead on the GraftColumnarWindowExec ring loop: O(maxLag+maxLead+1) ring state replaces the row WindowExec's whole-partition buffer — the sessionization lookback shape."),

    // ----------------------------------------------------------------
    QueryDef(
      "q181_window_ranking_stream",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // Pure ranking nodes: the SCD2 / pick-latest shape. Unlike q23
        // (whose node also holds ntile/percent_rank/cume_dist and keeps
        // the row path), BOTH nodes here hold only streaming functions
        // and swap to GraftColumnarWindowExec: O(1) state per partition
        // vs the row WindowExec's whole buffered group. Two specs on
        // purpose — row_number and the running count need a UNIQUE
        // ordering (tie order is engine-dependent), while rank /
        // dense_rank run over the tie-PRONE date ordering (peers share
        // the value, so ties are deterministic — and actually exercise
        // peer detection).
        val wUniq = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        val wTies = Window.partitionBy($"o_custkey").orderBy($"o_orderdate")
        Tables.t(s, dir, "orders")
          .filter($"o_custkey" < 500)
          .select($"o_orderkey", $"o_custkey", $"o_orderdate",
            row_number().over(wUniq).as("rn"),
            rank().over(wTies).as("rnk"),
            dense_rank().over(wTies).as("drnk"),
            count(lit(1)).over(wUniq.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)).as("seen"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate,
          row_number() OVER wu AS rn, rank() OVER wt AS rnk,
          dense_rank() OVER wt AS drnk,
          count(1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen
        FROM orders WHERE o_custkey < 500
        WINDOW wu AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               wt AS (PARTITION BY o_custkey ORDER BY o_orderdate)
        ORDER BY o_orderkey"""),
      doc = "Streaming ranking functions (row_number/rank/dense_rank + running count in ONE swapped node) — beyond the reference (it falls back on ranking)."),

    // ----------------------------------------------------------------
    QueryDef(
      "q182_window_sliding",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // Sliding ROWS frames — the moving-average / rolling-metric
        // shape — on the GraftColumnarWindowExec ring loop: a frame-wide
        // ring of rows replaces the row WindowExec's whole buffered
        // partition. Four
        // frames in ONE node: trailing avg, centered sum, trailing
        // count, lookahead max (specs carry per-expression [lo, hi]).
        // total order: (ln, pk, sk) — ROWS frames over tied keys are
        // engine-arbitrary (see q176)
        val w = Window.partitionBy($"l_orderkey")
          .orderBy($"l_linenumber", $"l_partkey", $"l_suppkey")
        Tables.t(s, dir, "lineitem")
          .filter($"l_orderkey" < 5000)
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            round(avg($"l_quantity").over(w.rowsBetween(-2, 0)), 6).as("ma3"),
            round(sum($"l_extendedprice").over(w.rowsBetween(-1, 1)), 4).as("csum"),
            count($"l_partkey").over(w.rowsBetween(-3, -1)).as("trail_cnt"),
            max($"l_suppkey").over(w.rowsBetween(0, 2)).as("ahead_max"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
          round(avg(l_quantity) OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_suppkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3,
          round(sum(l_extendedprice) OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_suppkey
            ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 4) AS csum,
          count(l_partkey) OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_suppkey
            ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS trail_cnt,
          max(l_suppkey) OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_suppkey
            ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS ahead_max
        FROM lineitem WHERE l_orderkey < 5000
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "Sliding ROWS-frame window aggregation (moving avg / centered sum / trailing count / lookahead max in ONE GraftColumnarWindowExec node) — the reference falls back on sliding frames."),

    // ----------------------------------------------------------------
    QueryDef(
      "q183_window_ffill",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // Forward-fill / first-last-nth on the boxed window lane: the
        // gap-filling shape (sensor/CDC streams carry sparse readings;
        // last+ignoreNulls over the running frame fills them). All four
        // functions stream in ONE swapped node — the reference falls
        // back on first/last/nth_value entirely.
        // total order: (ln, pk, sk) — forward-fill over tied keys is
        // engine-arbitrary (see q176)
        val w = Window.partitionBy($"l_orderkey")
          .orderBy($"l_linenumber", $"l_partkey", $"l_suppkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.t(s, dir, "lineitem")
          .filter($"l_orderkey" < 5000)
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            round(last(when($"l_quantity" >= 10, $"l_extendedprice"),
              ignoreNulls = true).over(w), 4).as("ffill_price"),
            first($"l_returnflag").over(w).as("first_flag"),
            round(first(when($"l_quantity" >= 25, $"l_discount"),
              ignoreNulls = true).over(w), 4).as("first_big_disc"),
            nth_value($"l_partkey", 2).over(w).as("second_part"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
          round(last_value(CASE WHEN l_quantity >= 10 THEN l_extendedprice END IGNORE NULLS)
            OVER w, 4) AS ffill_price,
          first_value(l_returnflag) OVER w AS first_flag,
          round(first_value(CASE WHEN l_quantity >= 25 THEN l_discount END IGNORE NULLS)
            OVER w, 4) AS first_big_disc,
          nth_value(l_partkey, 2) OVER w AS second_part
        FROM lineitem WHERE l_orderkey < 5000
        WINDOW w AS (PARTITION BY l_orderkey
          ORDER BY l_linenumber, l_partkey, l_suppkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "Forward-fill + first/last/nth_value window functions (boxed streaming lane, ONE swapped node) — the reference falls back on all of them."),

    // ----------------------------------------------------------------
    QueryDef(
      "q184_window_range_rolling",
      (s, dir) => {
        import s.implicits._
        // Rolling time-range window (RANGE + interval bounds over a
        // timestamp key) — the "orders in the trailing 30 days per
        // customer" shape — on GraftWindowRangeSlideExec: a
        // value-bounded ring (O(window occupancy) memory) replaces the
        // row WindowExec's whole buffered partition. Hour-denominated
        // interval keeps the bound arithmetic exact micros on both
        // engines; frames are value-SETS, so o_orderdate ties are
        // deterministic.
        // Revenue sums on an exact CENTS lane (q176's oracle-robustness
        // lesson: accumulated rounded doubles can legally flip an
        // x.xxxx5 boundary under a different oracle association —
        // DuckDB's windowed sum is segment-tree evaluated); max stays
        // double (pure selection, no accumulation).
        // DAY-denominated interval bound on BOTH sides: hour-denominated
        // intervals over a DATE key (the r10 shape) are exactly where
        // DuckDB versions diverge on RANGE-frame arithmetic — 30 DAYS
        // over DATE is calendar-exact everywhere (r10 driver-red remedy)
        val frame = "(PARTITION BY o_custkey ORDER BY o_orderdate RANGE " +
          "BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW)"
        Tables.t(s, dir, "orders")
          .filter($"o_custkey" < 500)
          .withColumn("cents", round($"o_totalprice" * 100).cast("long"))
          .selectExpr("o_orderkey", "o_custkey", "o_orderdate",
            s"count(1) OVER $frame AS n30d",
            s"sum(cents) OVER $frame AS rev30d_c",
            s"round(max(o_totalprice) OVER $frame, 2) AS top30d")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate,
          count(1) OVER w AS n30d,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS rev30d_c,
          round(max(o_totalprice) OVER w, 2) AS top30d
        FROM orders WHERE o_custkey < 500
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        ORDER BY o_orderkey"""),
      doc = "Rolling 30-day time-range window (RANGE + interval bounds, value-bounded ring memory) — the reference falls back on sliding RANGE frames. Revenue on an exact cents lane so the oracle check never rides an FP rounding boundary."),

    // ----------------------------------------------------------------
    QueryDef(
      "q185_window_rolling_wide",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // WIDE sliding ROWS frames (1,000-row rolling sum/min/max/count)
        // on the GraftColumnarWindowExec ring loop's O(n) invertible
        // kernels: exact add/subtract for the long sum/counts, monotonic
        // deques for min/max — total work O(n) where both the slice
        // recompute and Spark's SlidingWindowFunctionFrame pay
        // O(n·frame) (here 1,000x the value ops). Recompute specs are
        // capped at 65,536-row frames; invertible ones at 2M.
        // All check lanes exact: long sum/avg-free, min/max selection.
        // ORDER BY must be a TOTAL order for a cross-engine ROWS-frame
        // check: (l_orderkey, l_linenumber) alone has ~20% duplicate
        // keys in the synthetic data, and tied rows land in frames
        // engine-arbitrarily — (ok, ln, pk, sk) is verified unique.
        val w = Window.partitionBy($"l_returnflag")
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
        // the FINAL sort carries l_suppkey too: (ok, ln, pk, rf) leaves
        // tied row pairs with engine-arbitrary output order, which an
        // order-sensitive driver hash flips on (the r10 driver-red root)
        Tables.t(s, dir, "lineitem")
          .withColumn("qty_l", $"l_quantity".cast("long"))
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            $"l_returnflag",
            sum($"qty_l").over(w.rowsBetween(-999, 0)).as("roll_qty"),
            min($"l_extendedprice").over(w.rowsBetween(-999, 0)).as("roll_min"),
            max($"l_extendedprice").over(w.rowsBetween(-499, 500)).as("roll_max"),
            count($"qty_l").over(w.rowsBetween(-999, 0)).as("roll_n"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
          CAST(sum(CAST(l_quantity AS BIGINT)) OVER wt AS BIGINT) AS roll_qty,
          min(l_extendedprice) OVER wt AS roll_min,
          max(l_extendedprice) OVER wc AS roll_max,
          count(CAST(l_quantity AS BIGINT)) OVER wt AS roll_n
        FROM lineitem
        WINDOW wt AS (PARTITION BY l_returnflag
                      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
                      ROWS BETWEEN 999 PRECEDING AND CURRENT ROW),
               wc AS (PARTITION BY l_returnflag
                      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
                      ROWS BETWEEN 499 PRECEDING AND 500 FOLLOWING)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "1,000-row rolling window aggregates over hot partitions — O(n) invertible sliding kernels (exact sum add/subtract + monotonic min/max deques) on the GraftColumnarWindowExec ring loop, vs the O(n*frame) recompute both Spark and the slice recompute pay."),

    QueryDef(
      "q186_window_range_wide",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // WIDE value-range frames (~1k rows per frame at this key
        // density) on GraftWindowRangeSlideExec's incremental kernels:
        // monotonic frame pointers + exact add/subtract and min/max
        // deques — O(n) where the rescan (and Spark's frame machinery)
        // pays O(n·frame). Order-key ties (several lines per orderkey)
        // are fine for a RANGE frame: peers share the frame by VALUE,
        // so outputs are deterministic without a total order. All
        // check lanes exact (long sum/count, min/max selection).
        val w = Window.partitionBy($"l_returnflag").orderBy($"l_orderkey")
          .rangeBetween(-3000, 0)
        Tables.t(s, dir, "lineitem")
          .withColumn("qty_l", $"l_quantity".cast("long"))
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            $"l_returnflag",
            sum($"qty_l").over(w).as("win_qty"),
            min($"l_extendedprice").over(w).as("win_min"),
            max($"l_extendedprice").over(w).as("win_max"),
            count($"qty_l").over(w).as("win_n"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
          CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT) AS win_qty,
          min(l_extendedprice) OVER w AS win_min,
          max(l_extendedprice) OVER w AS win_max,
          count(CAST(l_quantity AS BIGINT)) OVER w AS win_n
        FROM lineitem
        WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_orderkey
                     RANGE BETWEEN 3000 PRECEDING AND CURRENT ROW)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "Wide rolling value-range window (~1k rows per frame) — the incremental O(n) RANGE kernels (exact sum add/subtract + min/max deques on monotonic frame pointers) vs the O(n*frame) rescan; value-based frames make tie handling deterministic without a total order."),

    QueryDef(
      "q187_window_sizebased",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // SIZE-BASED window functions (ntile / percent_rank / cume_dist
        // — SizeBasedWindowFunction: values need the partition row
        // count) on GraftColumnarWindowExec's partition-buffered face:
        // the buffer is Spark's own spill-backed row array (the row
        // WindowExec buffers identically for these), but emission is
        // one streaming cursor (kind-0 node: ntile buckets + rank-based
        // percent_rank) plus a peer-scout cursor (kind-1 node:
        // cume_dist + RANGE-running aggs close at the peer group end).
        // Two nodes by design: ntile needs a TOTAL order (bucket =
        // row position, so ties would be engine-arbitrary —
        // (ok,ln,pk,sk) is verified unique), while cume_dist is about
        // tie MASS, so it rides the heavily-tied l_quantity order where
        // every value is deterministic (peer groups share values).
        // percent_rank/cume_dist emit single divisions of exact
        // integers — bit-identical cross-engine, no rounding needed;
        // the running revenue lane is exact cents.
        val wt = Window.partitionBy($"l_returnflag")
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
        val wq = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
        Tables.t(s, dir, "lineitem")
          .withColumn("cents", round($"l_extendedprice" * 100).cast("long"))
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            $"l_returnflag",
            ntile(7).over(wt).as("sept"),
            percent_rank().over(wt).as("pr"),
            rank().over(wt).as("rk"),
            cume_dist().over(wq).as("cd_qty"),
            sum($"cents").over(wq).as("rev_upto_qty"),
            count(lit(1)).over(wq).as("n_upto_qty"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
          ntile(7) OVER wt AS sept,
          percent_rank() OVER wt AS pr,
          rank() OVER wt AS rk,
          cume_dist() OVER wq AS cd_qty,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER wq AS BIGINT) AS rev_upto_qty,
          count(*) OVER wq AS n_upto_qty
        FROM lineitem
        WINDOW wt AS (PARTITION BY l_returnflag
                      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey),
               wq AS (PARTITION BY l_returnflag ORDER BY l_quantity)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "Size-based window functions (ntile/percent_rank/cume_dist need the partition row count) — partition-buffered streaming emission with a peer-scout cursor for the RANGE-running cume_dist node; exact integer-division and cents check lanes."),

    QueryDef(
      "q188_window_mixed_kinds",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // MIXED evaluation kinds in ONE window spec — the shape Spark
        // always produces when a query mixes `x OVER w` styles, since
        // every expression sharing (PARTITION BY, ORDER BY) lands in a
        // single WindowExec: a ROWS-running sum + row_number (streaming
        // kind), lag + a finite ROWS min (streaming machines), ntile
        // (size-based, partition-buffered), and two default-frame
        // aggregates (RANGE running — deferred peer-close kind). No
        // homogeneous exec can take the node whole; the mixed-kind
        // splitter chains three per-kind nodes over the one sort and
        // the plan pin asserts all three swapped. The ORDER BY is a
        // verified total order, so every lane (incl. lag and ntile) is
        // deterministic; money lanes are exact cents.
        val w = Window.partitionBy($"l_returnflag")
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
        Tables.t(s, dir, "lineitem")
          .withColumn("cents", round($"l_extendedprice" * 100).cast("long"))
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            $"l_returnflag",
            sum($"cents").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("run_cents"),
            row_number().over(w).as("rn"),
            lag($"l_orderkey", 1).over(w).as("prev_ok"),
            min($"l_partkey").over(w.rowsBetween(-3, 0)).as("min_pk_4"),
            ntile(5).over(w).as("quint"),
            sum($"cents").over(w).as("range_cents"),
            count(lit(1)).over(w).as("range_n"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
          CAST(sum(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents,
          row_number() OVER w AS rn,
          lag(l_orderkey, 1) OVER w AS prev_ok,
          min(l_partkey) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS min_pk_4,
          ntile(5) OVER w AS quint,
          CAST(sum(cents) OVER (w RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS range_cents,
          count(*) OVER (w RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS range_n
        FROM (SELECT *, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem)
        WINDOW w AS (PARTITION BY l_returnflag
                     ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "Mixed window evaluation kinds in one spec (running ROWS + ranking + lag + finite ROWS min + ntile + default RANGE frame) — the splitter chains three homogeneous graft nodes over one sort; total-order determinism, exact cents lanes."),

    QueryDef(
      "q189_window_suffix",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // SUFFIX frames (CURRENT ROW .. UNBOUNDED FOLLOWING): Spark's
        // UnboundedFollowingWindowFunctionFrame recomputes the whole
        // remaining aggregate for EVERY output row — O(n^2) per
        // partition, the reason "remaining total" queries get
        // folk-rewritten as a reverse sort + running frame. The graft
        // face block-combines the associative lanes in O(n): per-4096-
        // row block aggregates, right-to-left block-suffix combine,
        // then a staged forward emission — two sequential reads of the
        // same spill-backed buffer the row exec fills anyway. ROWS
        // suffix lanes ride the verified-unique total order; the RANGE
        // suffix (frame opens at the row's FIRST PEER) rides the
        // heavily-tied l_quantity order where peer groups share exact
        // values.
        val wt = Window.partitionBy($"l_returnflag")
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
        val wq = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
        val base = Tables.t(s, dir, "lineitem")
          .withColumn("cents", round($"l_extendedprice" * 100).cast("long"))
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            $"l_returnflag",
            sum($"cents").over(wt.rowsBetween(Window.currentRow,
              Window.unboundedFollowing)).as("remaining_cents"),
            count(lit(1)).over(wt.rowsBetween(Window.currentRow,
              Window.unboundedFollowing)).as("remaining_n"),
            min($"l_partkey").over(wt.rowsBetween(Window.currentRow,
              Window.unboundedFollowing)).as("min_pk_ahead"),
            sum($"cents").over(wq.rangeBetween(Window.currentRow,
              Window.unboundedFollowing)).as("rev_from_qty"),
            count(lit(1)).over(wq.rangeBetween(Window.currentRow,
              Window.unboundedFollowing)).as("n_from_qty"),
            first(when($"l_quantity" < 10, $"cents"), ignoreNulls = true)
              .over(wt.rowsBetween(Window.currentRow, Window.unboundedFollowing))
              .as("bfill_small"))
        base.orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
          CAST(sum(cents) OVER (wt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS remaining_cents,
          count(*) OVER (wt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS remaining_n,
          min(l_partkey) OVER (wt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS min_pk_ahead,
          CAST(sum(cents) OVER (wq RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS rev_from_qty,
          count(*) OVER (wq RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_from_qty,
          first_value(CASE WHEN l_quantity < 10 THEN cents END IGNORE NULLS)
            OVER (wt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfill_small
        FROM (SELECT *, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem)
        WINDOW wt AS (PARTITION BY l_returnflag
                      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey),
               wq AS (PARTITION BY l_returnflag ORDER BY l_quantity)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "Suffix frames (CURRENT ROW .. UNBOUNDED FOLLOWING) — block-combined O(n) remaining-total/count/min vs Spark's O(n^2) per-row recompute; RANGE suffix opens at the first peer over the tied quantity order; a BACKFILL lane (first_value ignore-nulls over the suffix — the forward-fill mirror); exact cents lanes."),

    // ----------------------------------------------------------------
    QueryDef(
      "q193_window_suffix_hicard",
      (s, dir) => {
        import s.implicits._
        // q189's suffix frames on a HIGH-CARDINALITY partitioning
        // (pmod(l_orderkey, 4096) → ~n/4096 rows per partition): the
        // realistic per-entity shape where thousands of partitions
        // parallelize across the cluster, vs q189's deliberate 3-key
        // worst case whose giant partitions serialize. Together the two
        // bench entries expose BOTH costs: q189 isolates the O(n)
        // suffix-combine win on long partitions; this query shows the
        // sweep-visible many-partition path (scheduling + per-partition
        // reset dominated). The fixture's (l_orderkey, l_linenumber) is
        // NOT unique, so the window order carries all four keys —
        // q189's totality discipline — keeping every lane hash-stable.
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(pmod($"l_orderkey", lit(4096)).as("bucket"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
        Tables.t(s, dir, "lineitem")
          .withColumn("cents", round($"l_extendedprice" * 100).cast("long"))
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            sum($"cents").over(w.rowsBetween(Window.currentRow,
              Window.unboundedFollowing)).as("remaining_cents"),
            count(lit(1)).over(w.rowsBetween(Window.currentRow,
              Window.unboundedFollowing)).as("remaining_n"),
            min($"l_partkey").over(w.rowsBetween(Window.currentRow,
              Window.unboundedFollowing)).as("min_pk_ahead"))
          .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
          CAST(sum(cents) OVER w AS BIGINT) AS remaining_cents,
          count(*) OVER w AS remaining_n,
          min(l_partkey) OVER w AS min_pk_ahead
        FROM (SELECT *, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem)
        WINDOW w AS (PARTITION BY l_orderkey % 4096
                     ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "q189's suffix frames over a high-cardinality pmod(l_orderkey, 4096) partitioning — the many-small-partitions production shape the 3-key q189 bench entry deliberately avoids; exact cents lanes, total within-partition order. The COMPUTED partition key rides the canonicalization retry (materialized _graftpkey Project below, plan-pinned — before late-r12 the committed formulation silently ran the row exec because every window case required attribute keys). A/B (sf0.1, min-of-3): columnar 1.30s vs row 1.46s (0.89x) here at ~146 rows/partition; on q189's ~200k-row partitions the row path's O(n^2) UnboundedFollowing recompute DID NOT COMPLETE in 17+ minutes where the O(n) suffix face takes 2.30s (>400x)."),

    // ----------------------------------------------------------------
    QueryDef(
      "q86_pivot",
      (s, dir) => {
        import s.implicits._
        // PIVOT with an explicit value list (PivotFirst path): explicit
        // values keep the plan a single pass — omitting them costs an
        // extra distinct-collect job to discover columns, which is the
        // thing you avoid at 100 TB.
        Tables.t(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .select($"o_orderpriority", $"F".cast("long").as("f_cnt"),
            $"O".cast("long").as("o_cnt"), $"P".cast("long").as("p_cnt"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
          count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
          count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
          count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "PIVOT on status with explicit values (single-pass PivotFirst plan) vs FILTER-aggregation oracle."),

    // ----------------------------------------------------------------
    // Real TPC-H shapes (q87-q90): the four plan archetypes BASELINE.md
    // benchmarks that q01/q03 don't already cover — multi-join with a
    // broadcast dim chain (Q5), outer-join-count distribution (Q13),
    // group-HAVING semi-join top-k (Q18), and multi-semi/anti-join (Q21).
    // Adapted to the synthetic schema where columns are missing
    // (no o_comment / l_commitdate / l_receiptdate), keeping each query's
    // join structure intact. Reference: benchmarks/tpc/queries/tpch/.
    QueryDef(
      "q87_tpch_q5",
      (s, dir) => {
        import s.implicits._
        val one = lit(1).cast("decimal(18,2)")
        // Dim chain region→nation→supplier stays broadcast end-to-end;
        // the only shuffles are the two fact-fact joins on their keys.
        val asiaNations = Tables.t(s, dir, "nation")
          .join(broadcast(Tables.t(s, dir, "region").filter($"r_name" === "ASIA")),
            $"n_regionkey" === $"r_regionkey")
        val asiaSuppliers = Tables.t(s, dir, "supplier")
          .join(broadcast(asiaNations), $"s_nationkey" === $"n_nationkey")
        val orders = Tables.t(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
        Tables.t(s, dir, "lineitem")
          .join(orders, $"l_orderkey" === $"o_orderkey")
          .join(Tables.t(s, dir, "customer"), $"c_custkey" === $"o_custkey")
          .join(broadcast(asiaSuppliers),
            $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
          .groupBy($"n_name")
          .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount")))
            .cast("double").as("revenue"))
          .orderBy($"revenue".desc, $"n_name")
      },
      Some(s"""SELECT n_name,
          CAST(sum(CAST(l_extendedprice AS $decSql) * (CAST(1 AS $decSql) - CAST(l_discount AS $decSql))) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name ORDER BY revenue DESC, n_name"""),
      doc = "TPC-H Q5 (local supplier volume): 6-table join, region→nation→supplier broadcast chain, fact-fact shuffles on natural keys only."),

    QueryDef(
      "q88_tpch_q13",
      (s, dir) => {
        import s.implicits._
        // Customer distribution: LEFT OUTER join keeps order-less
        // customers (c_count = 0). o_comment NOT LIKE of real Q13 →
        // o_orderpriority NOT LIKE (same prefiltered-right-side shape).
        val orders = Tables.t(s, dir, "orders")
          .filter(!$"o_orderpriority".like("%URGENT%"))
        Tables.t(s, dir, "customer")
          .join(orders, $"c_custkey" === $"o_custkey", "left_outer")
          .groupBy($"c_custkey")
          .agg(count($"o_orderkey").as("c_count"))
          .groupBy($"c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy($"custdist".desc, $"c_count".desc)
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '%URGENT%'
          GROUP BY c_custkey) c_orders
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),
      doc = "TPC-H Q13 (customer distribution): outer-join-count, double aggregation; count(col) ignores the NULLs the outer join introduces."),

    QueryDef(
      "q89_tpch_q18",
      (s, dir) => {
        import s.implicits._
        // Large-volume customers: the HAVING subquery becomes a
        // self-aggregated semi-join probe; total order (price desc,
        // date, unique orderkey) makes LIMIT deterministic.
        val l = Tables.t(s, dir, "lineitem")
        val bigOrders = l.groupBy($"l_orderkey")
          .agg(sum(dec($"l_quantity")).as("q"))
          .filter($"q" > 300)
          .select($"l_orderkey".as("big_okey"))
        Tables.t(s, dir, "orders")
          .join(bigOrders, $"o_orderkey" === $"big_okey", "left_semi")
          .join(Tables.t(s, dir, "customer"), $"c_custkey" === $"o_custkey")
          .join(l, $"o_orderkey" === $"l_orderkey")
          .groupBy($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
          .agg(sumDec($"l_quantity").as("sum_qty"))
          .orderBy($"o_totalprice".desc, $"o_orderdate", $"o_orderkey")
          .limit(100)
      },
      Some(s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
          ${sumDecSql("l_quantity")} AS sum_qty
        FROM customer, orders, lineitem
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS $decSql)) > 300)
          AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"""),
      doc = "TPC-H Q18 (large-volume customer): HAVING-subquery as aggregate+semi-join, then 3-way join and deterministic top-100."),

    QueryDef(
      "q90_tpch_q21",
      (s, dir) => {
        import s.implicits._
        // Suppliers who kept orders waiting, adapted: the wait signal is
        // l_returnflag='R' in a finished order (no commit/receipt dates
        // in the synthetic schema), and the single-nation filter becomes
        // a (n_name, s_name) group so the result is nonempty at every SF.
        // Shape preserved: EXISTS → left_semi, NOT EXISTS → left_anti,
        // both equi-joins on l_orderkey with a <> residual — never a
        // cartesian.
        val l = Tables.t(s, dir, "lineitem")
        val l1 = l.filter($"l_returnflag" === "R")
          .join(Tables.t(s, dir, "orders").filter($"o_orderstatus" === "F"),
            $"l_orderkey" === $"o_orderkey")
          .select($"l_orderkey", $"l_suppkey")
        val l2 = l.select($"l_orderkey".as("lo2"), $"l_suppkey".as("ls2"))
        val l3 = l.filter($"l_returnflag" === "R")
          .select($"l_orderkey".as("lo3"), $"l_suppkey".as("ls3"))
        l1.join(l2, $"l_orderkey" === $"lo2" && $"l_suppkey" =!= $"ls2", "left_semi")
          .join(l3, $"l_orderkey" === $"lo3" && $"l_suppkey" =!= $"ls3", "left_anti")
          .join(Tables.t(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
          .join(broadcast(Tables.t(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
          .groupBy($"n_name", $"s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy($"numwait".desc, $"n_name", $"s_name")
          .limit(100)
      },
      Some("""SELECT n_name, s_name, count(*) AS numwait
        FROM supplier, lineitem l1, orders, nation
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
          AND s_nationkey = n_nationkey
        GROUP BY n_name, s_name ORDER BY numwait DESC, n_name, s_name LIMIT 100"""),
      doc = "TPC-H Q21 (suppliers who kept orders waiting): semi-join (EXISTS) + anti-join (NOT EXISTS) on the same fact, both equi-keyed on l_orderkey.")
  )
}
