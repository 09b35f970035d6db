package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.engine.{GraftExtensions, MinHashAggregator}

/** Queries exercising the custom engine layer (SURVEY §2.4 / §7.3):
  * the native codegen [[graft.engine.CosineSimilarity]] expression, the
  * typed [[graft.engine.MinHashAggregator]] UDAF, and a plain scalar
  * udf() — the three extension mechanisms a user of the engine has.
  */
object EngineQueries {

  /** Defensively register cosine_sim on sessions that weren't built with
    * spark.sql.extensions=graft.engine.GraftExtensions (e.g. the
    * driver's smoke session).
    */
  private def ensureRegistered(s: SparkSession): Unit =
    GraftExtensions.functionDescriptors.foreach { case (id, info, builder) =>
      if (!s.sessionState.functionRegistry.functionExists(id))
        s.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  def all: Seq[QueryDef] = Seq(

    QueryDef(
      "q58_custom_expr_cosine",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        ensureRegistered(s)
        // Same task as q50 but through the native codegen expression —
        // the hot loop inlines into whole-stage codegen instead of
        // interpreting zip_with/aggregate lambdas.
        val e = Tables.t(s, dir, "embeddings")
        val probes = e.filter($"vec_id" < 10)
          .select($"vec_id".as("probe_id"), $"embedding".as("pe"))
        val w = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")
        e.join(broadcast(probes), $"vec_id" =!= $"probe_id")
          .withColumn("cos", expr("cosine_sim(embedding, pe)"))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 5)
          .select($"probe_id", $"rk", $"vec_id", round($"cos", 6).as("cos"))
          .orderBy($"probe_id", $"rk")
      },
      Some("""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS emb,
            list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
          FROM embeddings)
        SELECT probe_id, rk, vec_id, round(cos, 6) AS cos FROM (
          SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
            list_dot_product(p.emb, c.emb) / sqrt(p.n2 * c.n2) AS cos,
            row_number() OVER (PARTITION BY p.vec_id
              ORDER BY list_dot_product(p.emb, c.emb) / sqrt(p.n2 * c.n2) DESC,
                       c.vec_id) AS rk
          FROM e p JOIN e c ON p.vec_id < 10 AND c.vec_id <> p.vec_id)
        WHERE rk <= 5 ORDER BY probe_id, rk"""),
      doc = "Top-5 ANN through the native codegen cosine_sim Expression (registered via SparkSessionExtensions/FunctionRegistry)."),

    QueryDef(
      "q59_custom_udaf_minhash",
      (s, dir) => {
        import s.implicits._
        // Per-doc 32-slot MinHash signatures merged into per-source
        // sketches by the typed Aggregator. The signature is a literal
        // array of 32 codegen'd arithmetic columns — NOT an interpreted
        // transform(sequence(...)) lambda, which measured ~100× slower
        // (same finding that shaped q47). Partial aggregation means only
        // 32 longs per source cross the shuffle. The band key is
        // concat_ws over element_at (codegen'd), not a per-row udf, and
        // the sketch is stringified for the driver's harness.
        val w = split($"text", " ")
        val h1 = hash($"tok").cast("long").bitwiseAND(lit(0xffffffffL))
        val h2 = xxhash64($"tok").bitwiseAND(lit(0xffffffffL))
        val sigExpr = array((0 until 32).map(i => h1 + lit(i.toLong) * h2): _*)
        val mh = udaf(MinHashAggregator)
        Tables.t(s, dir, "documents")
          .select($"source", explode(array_distinct(w)).as("tok"))
          .withColumn("sig", sigExpr)
          .groupBy($"source")
          .agg(mh($"sig").as("sketch"))
          .select($"source",
            array_join($"sketch".cast("array<string>"), ",").as("sketch"),
            concat_ws(":", lit(0), element_at($"sketch", 1), element_at($"sketch", 2)).as("band0"))
          .orderBy($"source")
      },
      Some(graft.QueryDef.golden("q59_custom_udaf_minhash")),
      doc = "Typed Aggregator UDAF (element-wise-min MinHash sketch, partial-agg friendly) + codegen'd band key, per source; golden-snapshot oracle (xxhash64 sketch has no DuckDB twin)."),

    QueryDef(
      "q75_custom_topk_operator",
      (s, dir) => {
        import s.implicits._
        // Global top-K through the custom LogicalPlan + Strategy +
        // SparkPlan pipeline (GraftTopK / GraftTopKExec): two bounded
        // heaps, O(k) memory per partition, one narrow merge. Same
        // semantics as orderBy().limit(k) — which is what the oracle runs.
        org.apache.spark.sql.graft.GraftTopK.topK(
          Tables.t(s, dir, "orders")
            .select($"o_orderkey", $"o_totalprice", $"o_orderpriority"),
          12, $"o_totalprice".desc, $"o_orderkey".asc)
      },
      Some("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 12"""),
      doc = "Custom whole-operator path: GraftTopK logical node planned by GraftTopKStrategy into GraftTopKExec (bounded-heap two-stage top-K)."),

    QueryDef(
      "q76_bloom_filter_join",
      (s, dir) => {
        ensureRegistered(s)
        // The 100 TB pre-join pattern: build a bloom filter over the
        // (small) filtered build side's keys, probe the (huge) fact side
        // BEFORE its shuffle, then do the exact semi-join on survivors.
        // might_contain has no false negatives, so the result is exactly
        // the semi-join — which is what the oracle computes. The bloom
        // argument must be a scalar subquery (Spark requirement), hence
        // SQL over temp views rather than the DataFrame DSL.
        Tables.t(s, dir, "orders").createOrReplaceTempView("g_orders")
        Tables.t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
        s.sql("""
          SELECT l_returnflag, count(*) AS n_rows,
            CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          FROM g_lineitem
          WHERE might_contain(
                  (SELECT bloom_filter_agg(xxhash64(o_orderkey))
                   FROM g_orders WHERE o_orderpriority = '1-URGENT'),
                  xxhash64(l_orderkey))
            AND l_orderkey IN (SELECT o_orderkey FROM g_orders
                               WHERE o_orderpriority = '1-URGENT')
          GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "bloom_filter_agg/might_contain (Spark's internal BloomFilterAggregate via FunctionRegistry injection): bloom prefilter + exact semi-join; no false negatives makes it oracle-exact."),

    QueryDef(
      "q81_columnar_select",
      (s, dir) => {
        import s.implicits._
        // Attribute-only reorder over the parquet scan: GraftColumnarRule
        // (injected via SparkSessionExtensions) swaps the ProjectExec for
        // GraftColumnarSelectExec, which selects/reorders the scan's
        // ColumnarBatch vectors zero-copy — the §7.1 columnar-operator
        // path, pinned by PlanAssertionSuite. On a session without the
        // extensions the query degrades to a plain row Project with the
        // same result.
        Tables.t(s, dir, "supplier")
          .select($"s_name", $"s_suppkey", $"s_nationkey")
          .orderBy($"s_suppkey")
      },
      Some("""SELECT s_name, s_suppkey, s_nationkey FROM supplier
        ORDER BY s_suppkey"""),
      doc = "Columnar operator swap: attribute-only Project over the scan executed on ColumnarBatch (zero-copy vector selection) via ColumnarRule injection."),

    QueryDef(
      "q93_columnar_filter",
      (s, dir) => {
        import s.implicits._
        // Mixed-type conjunction/disjunction over the documents scan:
        // GraftColumnarRule compiles the predicate to vectorized kernels
        // (VecPredicate) and swaps the FilterExec for
        // GraftColumnarFilterExec, which evaluates column-at-a-time on
        // the scan's ColumnarBatches and emits selection-vector-wrapped
        // batches (zero copy). The attribute-only select above it then
        // takes the GraftColumnarSelect path, so the whole stage below
        // ColumnarToRow is custom columnar operators. Falls back to the
        // identical row plan on a session without the extensions.
        Tables.t(s, dir, "documents")
          .filter(($"n_chars" > 200L && $"lang" === "en" && $"source".isNotNull) ||
            $"source".startsWith("web"))
          .select($"doc_id", $"lang", $"source", $"n_chars")
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
        WHERE (n_chars > 200 AND lang = 'en' AND source IS NOT NULL)
           OR source LIKE 'web%'
        ORDER BY doc_id"""),
      doc = "Columnar Filter: vectorized predicate eval (Kleene and/or, long+string comparisons, null checks, prefix match) on ColumnarBatch with selection-vector output via ColumnarRule injection."),

    QueryDef(
      "q96_columnar_partial_agg",
      (s, dir) => {
        import s.implicits._
        // Global aggregation where the ENTIRE pre-shuffle stage is custom
        // columnar: scan → GraftColumnarFilter (vectorized predicate) →
        // GraftColumnarPartialAgg (per-partition accumulation directly on
        // ColumnarBatches, one buffer row per partition). Only those
        // single buffer rows cross the shuffle; Spark's own final
        // HashAggregate merges them. Sums/avgs are rounded post-agg so
        // the double compare against DuckDB is summation-order-proof.
        Tables.t(s, dir, "lineitem")
          .filter($"l_quantity" > 10.0)
          .agg(
            count(lit(1)).as("n_rows"),
            round(sum($"l_discount"), 4).as("sum_disc"),
            min($"l_orderkey").as("min_key"),
            max($"l_orderkey").as("max_key"),
            round(avg($"l_quantity"), 6).as("avg_qty"),
            min($"l_returnflag").as("min_flag"),
            max($"l_shipdate").as("max_ship"))
      },
      Some("""SELECT count(*) AS n_rows, round(sum(l_discount), 4) AS sum_disc,
          min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
          round(avg(l_quantity), 6) AS avg_qty, min(l_returnflag) AS min_flag,
          max(l_shipdate) AS max_ship
        FROM lineitem WHERE l_quantity > 10"""),
      doc = "Columnar partial HashAggregate: count/sum/min/max/avg accumulated on ColumnarBatch per partition (one buffer row crosses the shuffle), merged by Spark's final HashAggregate."),

    QueryDef(
      "q111_columnar_project",
      (s, dir) => {
        import s.implicits._
        // Computed projection evaluated on ColumnarBatch: the whole
        // pre-sort stage is custom columnar — scan → GraftColumnarFilter
        // (vectorized predicate) → GraftColumnarProject (double-algebra
        // kernels into materialized vectors; attribute items zero-copy).
        // Per-row doubles are bit-identical to DuckDB's because the IEEE
        // expression tree is the same — no aggregation, so no
        // summation-order caveats; the ORDER BY carries unique
        // tiebreakers.
        Tables.t(s, dir, "lineitem")
          .filter($"l_quantity" > 45.0)
          .select($"l_orderkey", $"l_linenumber",
            ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("net"),
            (($"l_extendedprice" / lit(100.0)) * $"l_tax").as("tax_amt"),
            abs($"l_discount" - $"l_tax").as("spread"))
          .orderBy($"net".desc, $"l_orderkey", $"l_linenumber")
          .limit(25)
      },
      Some("""SELECT l_orderkey, l_linenumber,
          l_extendedprice * (1.0 - l_discount) AS net,
          (l_extendedprice / 100.0) * l_tax AS tax_amt,
          abs(l_discount - l_tax) AS spread
        FROM lineitem WHERE l_quantity > 45
        ORDER BY net DESC, l_orderkey, l_linenumber LIMIT 25"""),
      doc = "Columnar Project with computed expressions: double-algebra kernels (mul/sub/div/abs, literals, Spark-exact Divide semantics) evaluated batch-at-a-time into materialized vectors; completes the columnar select/filter/project/aggregate runtime."),

    QueryDef(
      "q113_columnar_grouped_agg",
      (s, dir) => {
        import s.implicits._
        // GROUPED aggregation whose entire pre-shuffle stage is custom
        // columnar: scan → GraftColumnarFilter → GraftColumnarGroupedAgg
        // (per-partition hash table on (l_returnflag, l_linestatus),
        // partial buffers in Spark's own layout, memory-bounded by
        // early flush). Spark's final HashAggregate merges after the
        // key shuffle. Sum/avg rounded post-agg (order-proof compare).
        Tables.t(s, dir, "lineitem")
          .filter($"l_quantity" > 5.0)
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            count(lit(1)).as("n_rows"),
            round(sum($"l_discount"), 4).as("sum_disc"),
            round(avg($"l_quantity"), 6).as("avg_qty"),
            min($"l_orderkey").as("min_key"),
            max($"l_orderkey").as("max_key"),
            max($"l_shipdate").as("max_ship"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
          round(sum(l_discount), 4) AS sum_disc,
          round(avg(l_quantity), 6) AS avg_qty,
          min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
          max(l_shipdate) AS max_ship
        FROM lineitem WHERE l_quantity > 5
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      doc = "Columnar GROUPED partial HashAggregate: composite-key hash accumulation directly on ColumnarBatch, one buffer row per group per partition, early-flush memory bound; Spark's final HashAggregate merges."),

    QueryDef(
      "q128_columnar_string_project",
      (s, dir) => {
        import s.implicits._
        // String kernels on ColumnarBatch: scan → GraftColumnarFilter
        // (string predicate) → GraftColumnarProject evaluating upper/
        // trim∘substring/concat/length column-at-a-time over UTF8String
        // vectors (attribute items zero-copy). All functions are
        // locale-independent, so DuckDB's results match byte-for-byte
        // on this ASCII corpus.
        Tables.t(s, dir, "documents")
          .filter($"lang" =!= "de")
          .select($"doc_id",
            upper($"lang").as("lang_u"),
            trim(substring($"text", 1, 24)).as("head"),
            concat($"lang", lit(":"), $"source").as("tag"),
            length($"text").as("text_chars"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, upper(lang) AS lang_u,
          trim(substring(text, 1, 24)) AS head,
          lang || ':' || source AS tag,
          CAST(length(text) AS INTEGER) AS text_chars
        FROM documents WHERE lang <> 'de'
        ORDER BY doc_id"""),
      doc = "Columnar Project string kernels: upper/lower/trim/substring(lit)/concat/length evaluated batch-at-a-time over UTF8String vectors; the whole pre-sort stage is custom columnar (filter + project), plan-pinned."),

    QueryDef(
      "q143_decimal_money",
      (s, dir) => {
        import s.implicits._
        // TPC-H Q1's money-expression shape in Decimal64: the
        // double→decimal casts, subtract, multiply, and decimal→decimal
        // rescale all run in the columnar project's long-backed kernels
        // (exact unscaled-long arithmetic — every node's precision ≤ 18,
        // the shape the reference's checked decimal kernels target).
        // The sums stay row-side; one double conversion at the end
        // (repo money convention).
        val one = lit(1).cast("decimal(7,4)")
        Tables.t(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .select($"l_returnflag",
            ($"l_extendedprice".cast("decimal(9,2)") *
              (one - $"l_discount".cast("decimal(7,4)"))).as("net"),
            $"l_extendedprice".cast("decimal(12,2)").cast("decimal(14,4)").as("base4"))
          .groupBy($"l_returnflag")
          .agg(
            sum($"net").cast("double").as("sum_net"),
            sum($"base4").cast("double").as("sum_base"),
            count(lit(1)).as("n"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(7,4)) - CAST(l_discount AS DECIMAL(7,4)))) AS DOUBLE) AS sum_net,
          CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(14,4))) AS DOUBLE) AS sum_base,
          count(*) AS n
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "Decimal64 columnar Project: double→decimal cast (HALF_UP + overflow semantics), rescale cast, subtract, multiply as unscaled-long kernels on ColumnarBatch — TPC-H Q1's money arithmetic exactly; decimal values are exact so both engines agree digit-for-digit."),

    QueryDef(
      "q144_columnar_semi_anti",
      (s, dir) => {
        import s.implicits._
        // Columnar existence probes (default ON — unlike an inner
        // probe, the semi/anti shapes have no build-side output, so the
        // probe is a pure selection over the stream batch and A/Bs at
        // parity with the codegen row BHJ): scan → GraftColumnarFilter →
        // GraftColumnarSemiBHJ(semi) → GraftColumnarSemiBHJ(anti) →
        // GraftColumnarGroupedAgg, all on ColumnarBatch to the shuffle.
        // dim predicates on NON-key columns: a key-derived predicate
        // (e.g. p_partkey % 3 = 0) would be inferred onto the stream
        // filter, which the columnar filter can't compile — the whole
        // stream stage would fall back to rows
        val wanted = Tables.t(s, dir, "part")
          .filter($"p_size" < 15).select($"p_partkey")
        val banned = Tables.t(s, dir, "supplier")
          .filter($"s_acctbal" < 0.0).select($"s_suppkey")
        Tables.t(s, dir, "lineitem")
          .filter($"l_quantity" > 20.0)
          .join(broadcast(wanted), $"l_partkey" === $"p_partkey", "left_semi")
          .join(broadcast(banned), $"l_suppkey" === $"s_suppkey", "left_anti")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            min($"l_orderkey").as("min_order"),
            max($"l_orderkey").as("max_order"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
          min(l_orderkey) AS min_order, max(l_orderkey) AS max_order
        FROM lineitem
        WHERE l_quantity > 20
          AND EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey AND p_size < 15)
          AND NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "Columnar LEFT SEMI + LEFT ANTI broadcast probes: existence filters over the stream batch with zero-copy selection vectors and no build materialization; default-on after measuring parity with the codegen row BHJ."),

    QueryDef(
      "q133_columnar_broadcast_join",
      (s, dir) => {
        import s.implicits._
        // Inner broadcast join on Spark's codegen-fused BHJ (a columnar
        // JVM probe measured ~1.65x slower and was removed): both sides
        // are filtered on ColumnarBatch below the join, the partial agg
        // fuses into the join's codegen stage (no decimal money lane to
        // pay for RowToColumnar), and the final agg runs columnar.
        // avg(l_quantity) is an exact integer-sum/count; count/min/max
        // are exact; nothing order-dependent.
        Tables.t(s, dir, "lineitem")
          .filter($"l_quantity" > 40.0)
          .select($"l_suppkey", $"l_orderkey", $"l_quantity")
          .join(broadcast(Tables.t(s, dir, "supplier")
            .select($"s_suppkey", $"s_nationkey", $"s_name")),
            $"l_suppkey" === $"s_suppkey")
          .groupBy($"s_nationkey")
          .agg(count(lit(1)).as("n_lines"),
            min($"l_orderkey").as("min_order"),
            max($"l_orderkey").as("max_order"),
            round(avg($"l_quantity"), 6).as("avg_qty"))
          .orderBy($"s_nationkey")
      },
      Some("""SELECT s_nationkey, count(*) AS n_lines,
          min(l_orderkey) AS min_order, max(l_orderkey) AS max_order,
          round(avg(l_quantity), 6) AS avg_qty
        FROM lineitem, supplier
        WHERE l_suppkey = s_suppkey AND l_quantity > 40
        GROUP BY s_nationkey ORDER BY s_nationkey"""),
      doc = "Inner broadcast hash join on Spark's BHJ over the columnar filter: both sides are filtered on ColumnarBatch below the join, the partial aggregate fuses into the join's codegen stage and the final aggregate runs columnar.")
    ,

    QueryDef(
      "q154_columnar_existence_join",
      (spark, dir) => {
        // IN-subquery inside a DISJUNCTION: RewritePredicateSubquery
        // can't turn this into a semi join (the other disjunct keeps
        // non-matching rows alive), so it plans an ExistenceJoin — the
        // stream rows extended with one boolean column, consumed by
        // the filter `exists OR l_quantity > 48`. The join runs on
        // Spark's codegen-fused BHJ (a columnar JVM probe measured
        // 1.2-1.4x slower: existence emits every stream row, so there
        // is no selection to pay back the lost fusion); the dim side
        // is filtered columnar and the final agg runs columnar. At
        // 100 TB: the subquery side is a filtered dim (broadcast), the
        // fact side never shuffles before the partial agg.
        import spark.implicits._
        Tables.t(spark, dir, "part").filter($"p_size" < 8)
          .select($"p_partkey").createOrReplaceTempView("small_parts")
        Tables.t(spark, dir, "lineitem").createOrReplaceTempView("li_ex")
        spark.sql("""
          SELECT l_returnflag, count(*) AS n,
            min(l_orderkey) AS min_order, max(l_orderkey) AS max_order
          FROM li_ex
          WHERE l_partkey IN (SELECT p_partkey FROM small_parts)
             OR l_quantity > 48
          GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
          min(l_orderkey) AS min_order, max(l_orderkey) AS max_order
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 8)
           OR l_quantity > 48
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "Existence broadcast join (IN-subquery under a disjunction) on Spark's BHJ over the columnar filter: the subquery's dim side is filtered on ColumnarBatch, the exists-OR filter and partial aggregate fuse into the join's codegen stage, and the final aggregate runs columnar.")
    ,

    QueryDef(
      "q155_columnar_topk",
      (s, dir) => {
        import s.implicits._
        // ORDER BY + LIMIT over a columnar-filtered scan: the planner's
        // TakeOrderedAndProject would ColumnarToRow every filter
        // survivor only to keep 10; GraftColumnarRule swaps it for
        // GraftColumnarTopKExec, whose bounded heap compares the n_chars
        // vector slot against the running 10th-largest threshold — a
        // losing row costs one primitive read, and only heap-entering
        // winners are copied out of the batch. scan → columnar filter →
        // columnar top-k, ≤ 10 rows per partition reach the merge. At
        // 100 TB this is the only viable top-k shape (O(k) memory, no
        // global sort) AND no row materialization before the heap.
        Tables.t(s, dir, "documents")
          .filter($"lang" === "en" && $"n_chars" > 100L)
          .select($"doc_id", $"source", $"n_chars")
          .orderBy($"n_chars".desc, $"doc_id")
          .limit(10)
      },
      Some("""SELECT doc_id, source, n_chars FROM documents
        WHERE lang = 'en' AND n_chars > 100
        ORDER BY n_chars DESC, doc_id LIMIT 10"""),
      doc = "Columnar global top-k: bounded k-heap probing the sort-key vectors directly (losers cost one primitive read, never materialize as rows); scan, vectorized filter, and top-k all on ColumnarBatch, k rows per partition into the single merge task.")
    ,

    QueryDef(
      "q162_columnar_distinct",
      (s, dir) => {
        import s.implicits._
        // Keys-only DISTINCT through the grouped-agg kernels on BOTH
        // sides of the exchange: the partial stage dedups each scan
        // partition on ColumnarBatch (only distinct rows are ever
        // materialized for the shuffle — the A/B measured 0.72x on a
        // high-cardinality key for exactly this reason), the final
        // stage merges the shuffled key rows columnar. At 100 TB this
        // is the dedup-before-shuffle everybody wants: per-partition
        // distinct bounded by maxGroups with flush (the final stage
        // re-dedups), shuffle carries distinct keys only.
        Tables.t(s, dir, "documents")
          .select($"lang", $"source").distinct()
          .orderBy($"lang", $"source")
      },
      Some("""SELECT DISTINCT lang, source FROM documents
        ORDER BY lang, source"""),
      doc = "Keys-only DISTINCT columnar on both exchange sides (partial per-partition dedup on ColumnarBatch + columnar final merge); shuffle carries distinct keys only — winning A/B on low- and high-cardinality keys.")
    ,

    QueryDef(
      "q168_rank_group_limit",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // Top-k-per-key WITH TIES: `rank() <= 2` keeps every row tying
        // the 2nd-best price per order, so the row_number probe's exact
        // k-rows-per-group heap doesn't apply — the columnar RANK probe
        // (GraftColumnarRankGroupLimitExec, pinned) tracks only key
        // thresholds per group and emits candidates as zero-copy
        // selection vectors (a SUPERSET is always safe in Partial mode;
        // the final row WindowGroupLimit re-filters exactly). Map-side
        // the corpus is never sorted; the shuffle ships <= ~(groups x
        // (k + tie width)) candidates.
        val w = Window.partitionBy($"l_orderkey").orderBy($"l_extendedprice".desc)
        Tables.t(s, dir, "lineitem")
          .withColumn("rk", rank().over(w))
          .filter($"rk" <= 2)
          .groupBy($"rk")
          .agg(count(lit(1)).as("n"),
            sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("qty"))
          .orderBy($"rk")
      },
      Some("""WITH r AS (SELECT rank() OVER (PARTITION BY l_orderkey
            ORDER BY l_extendedprice DESC) AS rk, l_quantity
          FROM lineitem)
        SELECT rk, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM r WHERE rk <= 2 GROUP BY rk ORDER BY rk"""),
      doc = "Top-k-per-key WITH ties (rank() <= k): the columnar RANK WindowGroupLimit probe replaces the map-side sort with per-group key-threshold trackers and zero-copy candidate emission — ties never displace rows, over-emission is re-filtered exactly by the final stage; plan-pinned.")
    ,

    QueryDef(
      "q169_dense_rank_group_limit",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // dense_rank() <= k: "rows in the top-k DISTINCT price tiers per
        // supplier" — tier membership is unbounded per group, so no
        // row-count heap can represent it; the columnar probe tracks the
        // k smallest DISTINCT keys per group (dedup threshold tracker)
        // and zero-copy-emits the superset. A/B 0.36x vs the row
        // Sort + WindowGroupLimit on this shape.
        val w = Window.partitionBy($"l_suppkey").orderBy($"l_quantity".desc)
        Tables.t(s, dir, "lineitem")
          .withColumn("rk", dense_rank().over(w))
          .filter($"rk" <= 2)
          .groupBy($"rk")
          .agg(count(lit(1)).as("n"),
            sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("price_sum"))
          .orderBy($"rk")
      },
      Some("""WITH r AS (SELECT dense_rank() OVER (PARTITION BY l_suppkey
            ORDER BY l_quantity DESC) AS rk, l_extendedprice
          FROM lineitem)
        SELECT rk, count(*) AS n,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        FROM r WHERE rk <= 2 GROUP BY rk ORDER BY rk"""),
      doc = "Top-k distinct tiers per key (dense_rank() <= k): tier membership is unbounded per group, so the columnar probe keeps only the k smallest DISTINCT order keys per group and emits a zero-copy superset for the final stage to re-filter; 0.36x A/B vs the sorted row path.")
    ,

    QueryDef(
      "q209_distinct_sum_long",
      (s, dir) => {
        import s.implicits._
        // VALUE-distinct aggregation (sum over a non-key argument) fully
        // columnar on all FOUR levels of Spark's one-distinct plan:
        // keys-only dedup partial -> exchange(k, x) -> columnar dedup
        // merge -> partial_sum(distinct) over the columnar dedup output
        // -> exchange(k) -> columnar final. isDistinct is a planning
        // marker (distinctness is enforced by the dedup levels), so the
        // distinct-marked partial/final ride the plain sum specs — a
        // node-for-node exact swap. At 100 TB the shuffle carries
        // DISTINCT (key, value) pairs only: per-partition dedup bounds
        // the exchange exactly like q162's keys-only shape.
        Tables.t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(sum_distinct($"l_partkey").as("s_d"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
          CAST(sum(DISTINCT l_partkey) AS BIGINT) AS s_d
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "sum(DISTINCT long): the whole 4-level one-distinct plan swaps columnar (dedup partial + merge, distinct-marked partial sum, distinct final) — shuffles carry distinct pairs only. A/B sf0.1 interleaved min-of-9: 0.93x (hi-card distinct-sum 0.86x)."),

    QueryDef(
      "q210_distinct_sum_double",
      (s, dir) => {
        import s.implicits._
        // Double DISTINCT argument: the dedup levels group on the
        // DOUBLE column itself via normalized IEEE bits (canonical NaN,
        // -0.0 -> 0.0 — Spark's NormalizeFloatingNumbers semantics),
        // including the first partial whose key is the
        // knownfloatingpointnormalized(...) wrapper. Value-exact lane:
        // the distinct set is integer-valued doubles, so the sum is
        // order-free.
        Tables.t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(sum_distinct($"l_quantity").as("sq_d"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, sum(DISTINCT l_quantity) AS sq_d
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "sum(DISTINCT double): double grouping keys ride the long-key machinery as normalized IEEE bits; the normalize-wrapper partial key compiles onto the underlying column. A/B sf0.1 min-of-9: 0.83x (double-key dedup 0.84x)."),

    QueryDef(
      "q211_distinct_count_two",
      (s, dir) => {
        import s.implicits._
        // TWO distinct arguments -> the Expand-based rewrite: the
        // columnar Expand twin fans each row into one stream per
        // distinct group (gid), the dedup levels swap, the
        // gid-FILTERed partial counts rewrite onto the masked
        // conditional kernels, and the final merges columnar. Shuffle
        // volume = distinct (key, arg, gid) triples.
        Tables.t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            countDistinct($"l_partkey").as("cd_part"),
            countDistinct($"l_suppkey").as("cd_supp"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
          count(DISTINCT l_partkey) AS cd_part,
          count(DISTINCT l_suppkey) AS cd_supp
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "Multi-distinct (two count(DISTINCT) args): the Expand rewrite runs on the columnar Expand twin + columnar dedup levels + gid-FILTER partial counts. A/B sf0.1 min-of-9: 1.13x composite (every swap in this chain predates r13 and wins individually; Expand-off measures 1.8x WORSE, so the twin stays ON — watch item, not a gate).")
    ,

    QueryDef(
      "q216_distinct_mixed",
      (s, dir) => {
        import s.implicits._
        // MIXED distinct + plain aggregates — Spark plans the plain
        // functions as PartialMerge alongside the distinct dedup. ALL
        // FOUR aggregate levels swap columnar: the dedup partial, the
        // post-exchange buffer re-merge (emitBuffers twin of the final
        // agg — pinned), the MIXED merge+partial node (per-spec
        // merge-input variants in the grouped kernel), and the top
        // final. All lanes exact: distinct long sum, count, selection
        // max.
        Tables.t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            sum_distinct($"l_partkey").as("sd_part"),
            count(lit(1)).as("n"),
            max($"l_quantity").as("mx_qty"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
          CAST(sum(DISTINCT l_partkey) AS BIGINT) AS sd_part,
          count(*) AS n,
          max(l_quantity) AS mx_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "Mixed distinct + plain aggregates: ALL FOUR aggregate levels columnar — dedup partial, post-exchange PartialMerge buffer re-merge (emitBuffers twin), the mixed merge+partial node (per-spec merge-input variants), and the top final.")
  )
}
