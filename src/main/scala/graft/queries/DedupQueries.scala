package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Deduplication operators for LLM training-data pipelines (builder brief
  * "Beyond the reference"; SURVEY §7.2 M5). Four families over the
  * `documents` table, each expressed with columnar/codegen expressions —
  * no per-row Scala UDFs, no cartesian joins:
  *
  *  - exact dedup: hash-groupBy on the full text.
  *  - n-gram Jaccard near-dup, exact: candidates via shared-shingle
  *    equi-join (recall 1.0 — J>0 implies a shared shingle), then exact
  *    set Jaccard. 100 TB shape: explode-before-shuffle, equi-join on
  *    the shingle key; hot shingles (stopword runs) would be dropped by
  *    a frequency cap in production — the skew is bounded here.
  *  - MinHash + LSH banding: 32 minhashes (double-hashing family over
  *    murmur3+xxhash64, masked to 32 bits so ANSI-mode arithmetic can't
  *    overflow), 16 bands x 2 rows, candidates only within a band
  *    bucket, then exact Jaccard verify. With the verify step the output
  *    equals the exact answer unless LSH misses a true pair:
  *    P(miss | J>=0.85) <= (1-0.85^2)^16 < 2e-9, so the DuckDB
  *    all-pairs oracle is safe. At 100 TB the all-pairs oracle is
  *    impossible and THIS is the query you run.
  *  - SimHash: 16-bit sign-of-sums signature via per-word xxhash64 bit
  *    contributions (explicit bit columns -> single shuffle), collision
  *    groups reported per doc. No DuckDB twin for xxhash64 → rows-only.
  */
object DedupQueries {

  /** words of a document, Spark side */
  private def words(c: Column): Column = split(c, " ")

  private val shinglesSql =
    """list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))"""

  /** (doc_id, t3): every word-trigram of every document, built without
    * array columns — posexplode words, window-lead to assemble the
    * trigram string. All downstream dedup works on hashes of t3 so only
    * skinny long rows ever shuffle.
    *
    * r15 formulation note (measured, kept deliberately): a per-row
    * transform/array_distinct variant with ZERO shuffles was built and
    * benched — a single pass costs the same as this windowed pass
    * (0.545s vs 0.558s at sf0.1) — but the fixture parquet files are one
    * row group each, so a scan is ONE task and the per-row variant runs
    * its whole interpreted lambda on one core, while this form's word
    * exchange is what spreads the heavy work across the cluster/cores.
    * End-to-end the per-row variant measured q46 2.9s vs 1.6s. At 100 TB
    * (many-file scans parallelize naturally) the per-row form would win
    * back the word exchange; on this bench it cannot, and the windowed
    * form is the committed one. See OPTIMIZATION_r15.md.
    */
  def trigramsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wspec = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "wd")))
      .select(col("doc_id"),
        concat_ws(" ", col("wd"), lead(col("wd"), 1).over(wspec), lead(col("wd"), 2).over(wspec)).as("t3"),
        lead(col("wd"), 2).over(wspec).isNotNull.as("full"))
      .filter(col("full"))
      .select(col("doc_id"), col("t3"))
  }

  /** The hashed inverted index with the per-document distinct-shingle
    * count attached: (doc_id, n, shingle).
    *
    * r15 structural change (guide §2.3): n is attached BEFORE the
    * shingle self-join so Jaccard's |A|+|B| rides the pair aggregation
    * and the pair table — the largest intermediate of the pipeline — is
    * never re-joined/re-shuffled (the r14 form joined it against a sizes
    * table twice AFTER the pair groupBy).
    *
    * r16 (guide §2.4 "two operations keyed the same way share one
    * exchange"): n is a window count over doc_id instead of a
    * groupBy+self-join. The index is already hash-partitioned by doc_id
    * (the trigram window's exchange survives the distinct), so the
    * window adds NO exchange and NO join — while the r15 sizes join
    * recomputed the entire scan→trigram→distinct pipeline for the sizes
    * side (plan-verified: 4 index subtrees per self-join instead of 2).
    * At 100 TB this also removes the "sizes table at scale" question
    * entirely: there is no second relation to broadcast or shuffle.
    * A localCheckpoint variant (index materialized once) was measured
    * in r15 and REJECTED: at sf0.1 the sequential materialization
    * barrier costs ~0.7s while parallel recomputation of the subtree is
    * free on idle cores.
    */
  private[queries] def hashedIndex(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Interleaved same-JVM A/B vs the r15 sizes join (q46, min-of-7
    // alternating): 1.04 s window-n vs 1.33 s join, every run lower.
    trigramsOf(docs)
      .select(col("doc_id"), xxhash64(col("t3")).as("shingle"))
      .distinct()
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
  }

  /** The exact n-gram-Jaccard near-dup kernel over arbitrary
    * (doc_id, text) rows — public so the fuzz suite can differential-test
    * it against an in-memory brute force on random data.
    *
    * `maxShingleFreq` is the production hot-shingle cap: a shingle
    * appearing in more than K documents (boilerplate, stopword runs) is
    * dropped from the index BEFORE the self-join — it caps the largest
    * join group at K, which is what keeps the shuffle skew bounded at
    * 100 TB. Jaccard is then computed over each document's remaining
    * (rare) shingles; the fuzz suite differential-tests the capped
    * semantics against a brute force with the same filter.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double,
      maxShingleFreq: Option[Int] = None, sorted: Boolean = true): DataFrame = {
    val inv = maxShingleFreq match {
      case None => hashedIndex(docs)
      case Some(k) =>
        // The capped path computes per-doc sizes AFTER the hot-shingle
        // drop (Jaccard is over each document's remaining rare shingles),
        // so hashedIndex's pre-cap n does not apply here.
        val inv0 = trigramsOf(docs)
          .select(col("doc_id"), xxhash64(col("t3")).as("shingle"))
          .distinct()
        // The hot list is tiny by construction (only shingles with df > K —
        // boilerplate and stopword runs), so the broadcast hint is safe in
        // practice; because "tiny" is a data property, not a structural
        // bound, the list's size is emitted as an observed metric
        // (graft.dedup.hot_shingles) so a production run can alarm before
        // the driver materializes a pathologically large hot list. (Caveat:
        // if any stage of the surrounding query materializes 0 rows, AQE's
        // EmptyRelation propagation prunes this node with the rest of the
        // plan and no metric is reported — an empty query is also the case
        // with nothing to alarm about.)
        val hot = inv0.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df")).filter(col("df") > k)
          .select(col("shingle"))
          .observe("graft.dedup.hot_shingles", count(lit(1)).as("hot_count"))
        val kept = inv0.join(broadcast(hot), Seq("shingle"), "left_anti")
        // Post-cap sizes as a window count (the r16 hashedIndex shape):
        // kept is still hash-partitioned by doc_id (the broadcast anti
        // join preserves its stream side's partitioning), so this adds
        // no exchange — the r15 groupBy+join recomputed the whole capped
        // pipeline for the sizes side.
        import org.apache.spark.sql.expressions.Window
        kept.withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    }
    jaccardFromIndex(inv.repartition(col("shingle")), threshold, None, sorted)
  }

  /** Count-based exact Jaccard >= threshold from a hashed inverted index
    * carrying per-doc sizes: (doc_id, n, shingle). |A∩B| = pair-grouped
    * shared count (shingles are distinct per doc); |A| and |B| ride the
    * self-join as max(n) lanes of the SAME pair aggregation, so the pair
    * table — the largest intermediate of the whole pipeline — is shuffled
    * exactly once (the r1–r14 form re-joined it against a sizes table
    * twice: two more exchanges of every pair row). Optionally restricted
    * to candidate pairs (LSH output).
    */
  private def jaccardFromIndex(inv: DataFrame, threshold: Double,
      cands: Option[DataFrame], sorted: Boolean = true): DataFrame = {
    val sharedAll = inv.as("x").join(inv.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"),
        max(col("x.n")).as("n1"), max(col("y.n")).as("n2"))
    val shared = cands.fold(sharedAll)(c => sharedAll.join(c, Seq("d1", "d2")))
    val out = shared
      .withColumn("j", col("shared").cast("double") / (col("n1") + col("n2") - col("shared")))
      .filter(col("j") >= threshold)
      .select(col("d1"), col("d2"), round(col("j"), 6).as("jaccard"))
    // The (d1, d2) sort is presentation-only; iterative consumers
    // (q108's HashMin loop, q136's recursive CTE) feed the pairs into
    // further shuffled computation, where a global range exchange +
    // sort of the pair table is pure waste (guide §2.4: an orderBy
    // used only to make output deterministic).
    if (sorted) out.orderBy(col("d1"), col("d2")) else out
  }

  private[queries] def jaccardOracleSql(threshold: Double): String =
    s"""WITH sh AS (
        SELECT doc_id, $shinglesSql AS s FROM documents
        WHERE len(string_split(text,' ')) >= 3)
      SELECT d1, d2, round(j, 6) AS jaccard FROM (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
          CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE j >= $threshold ORDER BY d1, d2"""

  def all: Seq[QueryDef] = Seq(

    QueryDef(
      "q45_dedup_exact",
      (s, dir) => {
        import s.implicits._
        // Exact dedup: one shuffle on md5(text); keeps the smallest doc_id
        // as the canonical representative — the standard 100 TB pattern
        // (hash the content, never shuffle the content itself twice).
        Tables.t(s, dir, "documents")
          .select($"doc_id", md5($"text").as("fp"))
          .groupBy($"fp")
          .agg(min($"doc_id").as("canonical"), count(lit(1)).as("n_copies"))
          .groupBy($"n_copies")
          .agg(count(lit(1)).as("n_groups"))
          .orderBy($"n_copies")
      },
      Some("""SELECT n_copies, count(*) AS n_groups FROM (
          SELECT md5(text) AS fp, min(doc_id) AS canonical, count(*) AS n_copies
          FROM documents GROUP BY md5(text))
        GROUP BY n_copies ORDER BY n_copies"""),
      doc = "Exact dedup histogram: hash-groupBy on md5(text), canonical = min doc_id."),

    QueryDef(
      "q46_dedup_ngram_jaccard",
      (s, dir) => {
        // Candidate pairs = docs sharing >= 1 shingle (equi-join on the
        // shingle key, never a cartesian). Exact: any pair with J>0
        // shares a shingle, recall 1.0. The index holds xxhash64 longs
        // (64-bit collision P ~ 1e-9: one count off by one — accepted).
        // r15 shape: the index is materialized once and carries the
        // per-doc size, so the pair table is aggregated in ONE pass —
        // the r14 plan ran the trigram window pipeline 4x and shuffled
        // the pair table 3x (see hashedIndex).
        jaccardPairs(Tables.t(s, dir, "documents"), 0.8)
      },
      Some(jaccardOracleSql(0.8)),
      doc = "Exact n-gram (word-trigram) Jaccard near-dup >= 0.8 via shared-shingle inverted-index join."),

    QueryDef(
      "q47_dedup_minhash_lsh",
      (s, dir) => {
        import s.implicits._
        // 32 minhashes h_i(s) = (murmur3(s) & 0xffffffff) + i * (xxhash64(s) & 0xffffffff)
        // (fits in 38 bits — no ANSI overflow), banded 16 x 2. Computed
        // the aggregation way: hash each distinct trigram ONCE with the
        // codegen'd hash exprs, then 32 min() aggregate columns — all
        // whole-stage codegen around one shuffle. (The nested transform/
        // array_min lambda formulation is interpreted per element and
        // re-hashes every shingle 64x — measured ~100x slower at sf0.1.)
        // r15: the per-doc size n rides the verify step's single pair
        // aggregation (hashedIndex's shape) — the pair table is never
        // re-joined against a sizes table.
        // r16: materialize the hashed distinct-trigram table ONCE — it
        // feeds FOUR subtrees (both banded self-join sides via the
        // signature aggregation, both verify self-join sides via inv),
        // and un-materialized each consumer re-ran the whole
        // scan→trigram→window→distinct pipeline. Interleaved same-JVM
        // A/B: min 1.56 s vs 1.61 s (parity-to-better locally — idle
        // cores absorb parallel recompute at sf0.1); at scale this is 3
        // corpus passes removed for one write+read of the skinny hashed
        // index. Checkpointing the SIGNATURE table instead was also
        // A/B'd and REJECTED (2.55 vs 2.03 — its barrier sits after the
        // heavy aggregation and serializes the banding against the
        // verify side).
        val dsh = trigramsOf(Tables.t(s, dir, "documents"))
          .select($"doc_id", hash($"t3").as("m3"), xxhash64($"t3").as("xx"))
          .distinct()
          .localCheckpoint()
        val hashed = dsh.select($"doc_id",
          $"m3".cast("long").bitwiseAND(lit(0xffffffffL)).as("h1"),
          $"xx".bitwiseAND(lit(0xffffffffL)).as("h2"),
          $"xx")
        // r16: the per-doc shingle count n rides the SAME signature
        // aggregation as a 33rd lane (count beside the 32 min lanes —
        // zero extra shuffle) and travels WITH the LSH candidates into
        // the verify join, so neither a sizes join nor a window count
        // ever touches the inverted index. The r15 sizes join recomputed
        // the whole trigram pipeline for the sizes side; a window-count
        // variant (the q46 shape) measured WORSE here (1.63→1.91 s
        // isolated min-of-4) because its per-doc sort of the 500k-row
        // index lands on the critical path, while this lane is free.
        val sigCols = (0 until 32).map(i => min($"h1" + lit(i.toLong) * $"h2").as(s"s$i")) :+
          count(lit(1)).as("n")
        val sigDf = hashed.groupBy($"doc_id").agg(sigCols.head, sigCols.tail: _*)
        val bandCols = (0 until 16).map(b =>
          concat_ws(":", lit(b), col(s"s${2 * b}"), col(s"s${2 * b + 1}")))
        val banded = sigDf.select($"doc_id", $"n", explode(array(bandCols: _*)).as("band"))
        // Equi-join on the band key only; the count-based exact verify
        // (restricted to these candidates) restores exactness. n is
        // constant per doc, so carrying (n1, n2) through the distinct
        // leaves the candidate-pair set unchanged.
        val cands = banded.as("x").join(banded.as("y"),
            $"x.band" === $"y.band" && $"x.doc_id" < $"y.doc_id")
          .select($"x.doc_id".as("d1"), $"y.doc_id".as("d2"),
            $"x.n".as("n1"), $"y.n".as("n2"))
          .distinct()
        val inv = dsh.select($"doc_id", $"xx".as("shingle")).repartition($"shingle")
        val shared = inv.as("x").join(inv.as("y"),
            $"x.shingle" === $"y.shingle" && $"x.doc_id" < $"y.doc_id")
          .groupBy($"x.doc_id".as("d1"), $"y.doc_id".as("d2"))
          .agg(count(lit(1)).as("shared"))
        shared.join(cands, Seq("d1", "d2"))
          .withColumn("j", $"shared".cast("double") / ($"n1" + $"n2" - $"shared"))
          .filter($"j" >= 0.7)
          .select($"d1", $"d2", round($"j", 6).as("jaccard"))
          .orderBy($"d1", $"d2")
      },
      Some(jaccardOracleSql(0.7)),
      doc = "MinHash(32) + LSH banding (16x2) candidates, exact Jaccard verify >= 0.7. P(miss) < 2e-9 → exact oracle is safe."),

    QueryDef(
      "q48_dedup_simhash",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // 16-bit SimHash: per-word xxhash64, per-bit +/-1 vote, sign → bit.
        // Explicit bit columns keep everything in whole-stage codegen with
        // ONE shuffle (groupBy doc_id); word multiplicity intentionally
        // weights repeated words.
        val wordsDf = Tables.t(s, dir, "documents")
          .select($"doc_id", explode(words($"text")).as("w"))
          .withColumn("h", xxhash64($"w"))
        val bitCols = (0 until 16).map { j =>
          sum(when(shiftright($"h", j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$j")
        }
        val bitSums = wordsDf.groupBy($"doc_id").agg(bitCols.head, bitCols.tail: _*)
        val sim = (0 until 16)
          .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _)
        val w = Window.partitionBy($"simhash")
        bitSums.select($"doc_id", sim.as("simhash"))
          .withColumn("group_size", count(lit(1)).over(w))
          .withColumn("group_min", min($"doc_id").over(w))
          .orderBy($"doc_id")
      },
      Some(graft.QueryDef.golden("q48_dedup_simhash")),
      doc = "16-bit SimHash signatures + collision groups (group_size/group_min per signature); golden-snapshot oracle (xxhash64 has no DuckDB twin)."),

    QueryDef(
      "q92_dedup_jaccard_capped",
      (s, dir) => {
        import s.implicits._
        // The PRODUCTION form of q46: hot-shingle frequency cap (df > 5
        // dropped before the self-join). The cap is what bounds the
        // largest join group — and therefore shuffle skew — at 100 TB;
        // here it is oracle-checked end-to-end (the fuzz suite already
        // differential-tests the kernel on random data). The oracle CTE
        // applies the identical df-filter on the un-hashed trigrams.
        jaccardPairs(Tables.t(s, dir, "documents"), 0.8, maxShingleFreq = Some(5))
      },
      Some(s"""WITH sh AS (
          SELECT doc_id, unnest($shinglesSql) AS t3 FROM documents
          WHERE len(string_split(text,' ')) >= 3),
        df AS (SELECT t3, count(*) AS df FROM sh GROUP BY t3),
        kept AS (SELECT doc_id, sh.t3 AS t3 FROM sh JOIN df ON sh.t3 = df.t3 WHERE df <= 5),
        sets AS (SELECT doc_id, list(t3) AS s FROM kept GROUP BY doc_id)
        SELECT d1, d2, round(j, 6) AS jaccard FROM (
          SELECT a.doc_id AS d1, b.doc_id AS d2,
            CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s))) AS j
          FROM sets a JOIN sets b ON a.doc_id < b.doc_id)
        WHERE j >= 0.8 ORDER BY d1, d2"""),
      doc = "Capped n-gram Jaccard (maxShingleFreq=5): the skew-bounded production dedup path, oracle-checked with the matching df<=5 CTE.")
    ,

    QueryDef(
      "q156_winnowing_dedup",
      (s, dir) => {
        import s.implicits._
        // Winnowing fingerprint selection (Schleimer et al., SIGMOD'03 —
        // the MOSS algorithm): per document, build word 6-grams, slide a
        // w=3 window over them and keep each window's MINIMUM as a
        // fingerprint. The guarantee: any shared run of ≥ k+w-1 = 8
        // words between two documents yields at least one SHARED
        // fingerprint — substring-level dedup with ~1/w of the k-gram
        // index size. Candidates = pairs sharing ≥ 2 fingerprints after
        // a df ≤ 10 hot-fingerprint cap (the q92 skew bound: boilerplate
        // fingerprints never form quadratic join groups). All array work
        // is per-row map-side (transform/sequence/slice — no explode
        // until the skinny hashed (doc_id, fp) index).
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.t(s, dir, "documents")
        // Built row-wise like trigramsOf — posexplode + window leads,
        // NOT nested array lambdas: higher-order functions stay
        // interpreted AND InferFiltersFromGenerate re-inlines the whole
        // lambda pipeline into the scan filter (measured 100x slower);
        // window functions keep the stage codegen'd with ONE sort per
        // doc. Fingerprints are HASHED to longs before any shuffle (the
        // q46 pattern: 64-bit collision P ~ 1e-9 — one shared-count off
        // by one — accepted); the DuckDB oracle replays the selection
        // on the strings, where equality is the same relation.
        val wspec = Window.partitionBy($"doc_id").orderBy($"pos")
        val kg = docs
          .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "wd")))
          .select($"doc_id", $"pos",
            concat_ws(" ", $"wd",
              lead($"wd", 1).over(wspec), lead($"wd", 2).over(wspec),
              lead($"wd", 3).over(wspec), lead($"wd", 4).over(wspec),
              lead($"wd", 5).over(wspec)).as("kg"),
            lead($"wd", 5).over(wspec).isNotNull.as("full"))
          .filter($"full")
        val fp = kg
          .select($"doc_id", $"pos",
            min($"kg").over(wspec.rowsBetween(0, 2)).as("m"),
            lead($"kg", 2).over(wspec).isNotNull.as("full3"))
          .filter($"full3")
          .select($"doc_id", xxhash64($"m").as("f"))
          .distinct()
        // hot cap WITHOUT a broadcast hint (the q115 lesson: the hot set
        // grows with the corpus; AQE may still broadcast when it fits);
        // the trailing repartition(f) lets ReuseExchange serve both
        // self-join sides from one computation of the capped index.
        val ok = fp.groupBy($"f").agg(count(lit(1)).as("df"))
          .filter($"df" <= 10).select($"f")
        val kept = fp.join(ok, "f").repartition($"f")
        kept.as("a").join(kept.as("b"),
            $"a.f" === $"b.f" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
          .agg(count(lit(1)).as("shared"))
          .filter($"shared" >= 2)
          .orderBy($"d1", $"d2")
      },
      Some("""WITH words AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        kg AS (
          SELECT doc_id, list_transform(generate_series(1, len(ws)-5),
            i -> array_to_string(ws[i:i+5], ' ')) AS kgrams
          FROM words WHERE len(ws) >= 8),
        fp AS (
          SELECT DISTINCT doc_id, f
          FROM kg, UNNEST(list_distinct(list_transform(
            generate_series(1, len(kgrams)-2), j -> list_min(kgrams[j:j+2])))) AS t(f)),
        ok AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 10),
        fpk AS (SELECT fp.doc_id, fp.f FROM fp JOIN ok USING (f)),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
          FROM fpk a JOIN fpk b ON a.f = b.f AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT d1, d2, CAST(shared AS BIGINT) AS shared
        FROM pairs ORDER BY d1, d2"""),
      doc = "Winnowing (MOSS) substring-level near-dup: window-min fingerprint selection over word 6-grams (guaranteed detection of shared >= 8-word runs at ~1/3 the index size), hashed df-capped inverted-index self-join, pairs sharing >= 2 fingerprints.")
  )
}
