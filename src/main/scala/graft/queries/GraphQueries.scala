package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Duplicate-cluster assignment: the step a real dedup pipeline runs
  * AFTER pair generation. q46/q47 emit near-duplicate PAIRS; keeping
  * "one copy per duplicate set" requires grouping those pairs into
  * connected components and electing a canonical representative per
  * component — pairs alone over-delete (A~B, B~C: dropping one side of
  * each pair can drop both B and C even though A survives).
  *
  * Algorithm: iterative min-label propagation ("HashMin" Pregel): every
  * node starts labeled with its own id; each round every node takes the
  * min of its own and its neighbors' labels; converged when no label
  * changes. Each round is one equi-join + one groupBy — all shuffles on
  * the node key, nothing driver-side except the convergence counter
  * (one count() per round, the same driver-side loop shape as Spark's
  * own GraphX/Pregel and MLlib iterative algorithms).
  *
  * 100 TB notes:
  *  - Rounds needed = graph diameter. Near-dup graphs are unions of
  *    near-cliques (every member of a duplicate set pairs with most
  *    others), so diameter is typically 2-3 and HashMin is the right
  *    choice; for long-path graphs the same loop admits the
  *    large-star/small-star variant (Kiveris et al., "Connected
  *    Components in MapReduce and Beyond", SOCC'14) which converges in
  *    O(log n) rounds — the loop below is deliberately shaped so only
  *    the neighbor-min step would change.
  *  - Each round materializes only (node, label) longs — never text.
  *  - localCheckpoint truncates the lineage each round; without it the
  *    plan doubles per iteration and the job dies of planning time long
  *    before data size matters.
  */
object GraphQueries {

  /** Min-label connected components over an undirected edge list
    * (d1, d2). Returns (node, component) for every node present in
    * `edges`, component = min node id reachable.
    *
    * `maxIter` bounds the label-propagation rounds, the first included
    * (the folded round always runs), so it must be at least 1; the
    * labels are exact once every node lies within `maxIter` hops of its
    * component's minimum node.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1, s"connectedComponents needs maxIter >= 1, got $maxIter")
    val sym = edges.select(col("d1").as("src"), col("d2").as("dst"))
      .union(edges.select(col("d2").as("src"), col("d1").as("dst")))
      .localCheckpoint()
    // Round 1, folded (r16): with every node still labeled by its own id,
    // the neighbor-min join is an identity lookup — round 1's
    // join+groupBy collapses to ONE aggregation over sym, and the
    // separate initial-labels materialization (a distinct + checkpoint
    // job) disappears. Equivalent by construction: least(src, min(dst))
    // = least(own label, min over neighbors' labels) when labels = ids.
    // Round 1's convergence count is skipped too: a non-empty symmetric
    // edge list always relabels its larger endpoints (changed > 0), and
    // an empty one makes round 2's count 0 — either way the loop behaves
    // identically to counting here.
    var labels = sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("component"))
      .select(col("src").as("node"), col("component"))
      .localCheckpoint()
    var changed = 1L
    var it = 1
    while (changed > 0 && it < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("node"))
        .groupBy(col("src"))
        .agg(min(col("component")).as("nbr_min"))
      // one join per round: carry old + new label side by side, so the
      // convergence count reads the checkpointed result instead of
      // re-joining against the previous labels.
      val step = labels
        .join(nbrMin, labels("node") === nbrMin("src"), "left_outer")
        .select(col("node"), col("component").as("prev"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
        .localCheckpoint()
      changed = step.filter(col("component") < col("prev")).count()
      labels = step.select(col("node"), col("component"))
      it += 1
    }
    labels
  }

  def all: Seq[QueryDef] = Seq(

    QueryDef(
      "q108_dedup_clusters",
      (s, dir) => {
        // Pair graph = the proven q46 kernel (exact n-gram Jaccard >=
        // 0.8); cluster it and report each duplicate doc with its
        // component's canonical (min) doc_id. Docs with no near-dup
        // don't appear — at scale you anti-join this result against
        // the corpus to delete non-canonical members.
        val pairs = DedupQueries.jaccardPairs(
          Tables.t(s, dir, "documents"), 0.8, sorted = false)
        connectedComponents(pairs.select(col("d1"), col("d2")))
          .select(col("node").as("doc_id"), col("component"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE pairs AS (${DedupQueries.jaccardOracleSql(0.8)}),
          edges AS (
            SELECT d1 AS src, d2 AS dst FROM pairs
            UNION SELECT d2, d1 FROM pairs),
          reach(node, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst)
        SELECT node AS doc_id, min(lbl) AS component
        FROM reach GROUP BY node ORDER BY doc_id"""),
      doc = "Near-dup clustering: connected components (iterative HashMin label propagation) over the exact-Jaccard pair graph; DuckDB oracle = recursive-CTE transitive closure + min label."),

    QueryDef(
      "q136_recursive_cte",
      (s, dir) => {
        // Spark 4's WITH RECURSIVE executing a bounded BFS: min-hop
        // distance from the seed (smallest doc id in the pair graph)
        // over the same q46 edge list, capped at 3 hops (UNION ALL +
        // cap bounds the path enumeration; min(hop) collapses it).
        // Each recursive step is one equi-join + the accumulating
        // union — the same per-round shuffle shape as the HashMin loop
        // above, but expressed declaratively and planned by Catalyst's
        // recursion operator.
        // localCheckpoint BEFORE recursing: the recursion re-scans the
        // working relation every step, and without materialization each
        // step would re-run the whole Jaccard kernel (measured 13 s →
        // ~2 s at sf0.1; at 100 TB the pair graph is always a
        // materialized table, never a view over the kernel).
        // r15: the SYMMETRIZED, DEDUPED edge list is materialized too —
        // as a CTE it was inlined into the recursion body and its
        // union+distinct shuffle re-ran on every hop. min(src) over the
        // symmetric list equals min(d1) (d1 < d2 on every pair), so the
        // seed subquery reads the same table.
        val pairs = DedupQueries.jaccardPairs(Tables.t(s, dir, "documents"),
            0.8, sorted = false)
          .select(col("d1"), col("d2"))
        pairs.select(col("d1").as("src"), col("d2").as("dst"))
          .union(pairs.select(col("d2"), col("d1")))
          .distinct()
          .localCheckpoint()
          .createOrReplaceTempView("q136_edges")
        s.sql("""
          WITH RECURSIVE
            walk(node, hop) AS (
              SELECT (SELECT min(src) FROM q136_edges), 0
              UNION ALL
              SELECT e.dst, w.hop + 1
              FROM walk w JOIN q136_edges e ON e.src = w.node
              WHERE w.hop < 3)
          SELECT node AS doc_id, min(hop) AS hops
          FROM walk GROUP BY node ORDER BY doc_id""")
      },
      Some(s"""WITH RECURSIVE pairs AS (${DedupQueries.jaccardOracleSql(0.8)}),
          edges AS (
            SELECT d1 AS src, d2 AS dst FROM pairs
            UNION SELECT d2, d1 FROM pairs),
          walk(node, hop) AS (
            SELECT (SELECT min(d1) FROM pairs), 0
            UNION ALL
            SELECT e.dst, w.hop + 1
            FROM walk w JOIN edges e ON e.src = w.node
            WHERE w.hop < 3)
        SELECT node AS doc_id, CAST(min(hop) AS BIGINT) AS hops
        FROM walk GROUP BY node ORDER BY doc_id"""),
      doc = "Spark 4 recursive CTE (UnionLoop): bounded BFS min-hop reachability from a seed over the q46 pair graph — declarative transitive closure, identical recursion in the DuckDB oracle. Spark supports only UNION ALL recursion (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the hop cap bounds path enumeration; the unbounded-closure form stays with q108's iterative loop."),

    QueryDef(
      "q149_pagerank_trade",
      (s, dir) => {
        import s.implicits._
        // Weighted PageRank (d=0.85, 3 fixed iterations) over the
        // nation-level trade graph: customer nation → supplier nation,
        // edge weight = lineitem count. Scale shape: the corpus-sized
        // work is ONE edge aggregation (shuffle on nation pairs,
        // ≤ 625 edge rows out), materialized
        // with localCheckpoint so the 3 iterations never rescan
        // lineitem (the q136 lesson); each iteration is then a
        // 625-row join. Per-iteration round at 1e-12 absorbs summation-
        // order ulps; final round at 1e-6 (the q84 discipline). The
        // 25-nation spine is TPC-H-fixed, so N is the literal 25.
        val D = 0.85
        val li = Tables.t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
        val ords = Tables.t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
        val cust = Tables.t(s, dir, "customer").select($"c_custkey", $"c_nationkey")
        val supp = Tables.t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
        val nations = Tables.t(s, dir, "nation").select($"n_nationkey".as("nation"))
        // orders and customer are FACT tables (SF1000: 1.5 B / 150 M
        // rows) — no broadcast hint; these two shuffle on their keys and
        // AQE may still broadcast when runtime stats say they fit.
        // supplier is SF×10k — small enough to pin as broadcast, and it
        // arrives after the orders join has already shrunk the stream.
        val edges = li
          .join(ords, $"l_orderkey" === $"o_orderkey")
          .join(cust, $"o_custkey" === $"c_custkey")
          .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
          .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
          .agg(count(lit(1)).as("w"))
          .localCheckpoint()
        val outw = edges.groupBy($"src").agg(sum($"w").as("outw"))
        val ew = edges.join(outw, "src")
        var pr = nations.select($"nation", lit(1.0 / 25).as("pr"))
        (1 to 3).foreach { _ =>
          val inmass = ew.join(pr, $"src" === $"nation")
            .groupBy($"dst")
            .agg(sum($"pr" * $"w" / $"outw").as("inmass"))
          pr = nations.join(inmass, $"nation" === $"dst", "left_outer")
            .select($"nation",
              round(lit(0.15 / 25) + lit(D) * coalesce($"inmass", lit(0.0)), 12).as("pr"))
        }
        pr.select($"nation", round($"pr", 6).as("pr")).orderBy($"nation")
      },
      Some("""WITH edges AS (
          SELECT c.c_nationkey AS src, su.s_nationkey AS dst, count(*) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier su ON l.l_suppkey = su.s_suppkey
          GROUP BY 1, 2),
        outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
        ew AS (SELECT e.src, e.dst, e.w, o.outw FROM edges e JOIN outw o ON e.src = o.src),
        pr0 AS (SELECT n_nationkey AS nation, CAST(1.0 AS DOUBLE) / 25 AS pr FROM nation),
        it1 AS (SELECT n.n_nationkey AS nation,
            round(CAST(0.15 AS DOUBLE) / 25 + CAST(0.85 AS DOUBLE) * coalesce(m.inmass, CAST(0.0 AS DOUBLE)), 12) AS pr
          FROM nation n LEFT JOIN (
            SELECT ew.dst, sum(p.pr * ew.w / ew.outw) AS inmass
            FROM ew JOIN pr0 p ON ew.src = p.nation GROUP BY ew.dst) m
          ON n.n_nationkey = m.dst),
        it2 AS (SELECT n.n_nationkey AS nation,
            round(CAST(0.15 AS DOUBLE) / 25 + CAST(0.85 AS DOUBLE) * coalesce(m.inmass, CAST(0.0 AS DOUBLE)), 12) AS pr
          FROM nation n LEFT JOIN (
            SELECT ew.dst, sum(p.pr * ew.w / ew.outw) AS inmass
            FROM ew JOIN it1 p ON ew.src = p.nation GROUP BY ew.dst) m
          ON n.n_nationkey = m.dst),
        it3 AS (SELECT n.n_nationkey AS nation,
            round(CAST(0.15 AS DOUBLE) / 25 + CAST(0.85 AS DOUBLE) * coalesce(m.inmass, CAST(0.0 AS DOUBLE)), 12) AS pr
          FROM nation n LEFT JOIN (
            SELECT ew.dst, sum(p.pr * ew.w / ew.outw) AS inmass
            FROM ew JOIN it2 p ON ew.src = p.nation GROUP BY ew.dst) m
          ON n.n_nationkey = m.dst)
        SELECT nation, round(pr, 6) AS pr FROM it3 ORDER BY nation"""),
      doc = "Weighted PageRank (d=0.85, 3 iterations) on the customer-nation → supplier-nation trade graph: one corpus-scale edge aggregation (broadcast dims), localCheckpoint before iterating, then 625-row iteration joins; per-iteration round-12 keeps both engines' float sums identical, final round-6.")
  )
}
