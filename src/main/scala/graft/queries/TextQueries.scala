// (q141 histogram appended at the end of `all`.)
package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Text analysis operators for LLM data pipelines (builder brief):
  * language-ID (marker-word heuristic), quality scoring, token counting,
  * and document fingerprinting. Pure per-row expression pipelines —
  * shuffle-free except final ORDER BY / the fingerprint window — exactly
  * what you want mapping over 100 TB of documents.
  */
object TextQueries {

  private def words(c: Column): Column = split(c, " ")

  /** number of words of `w` that appear in the marker list */
  private def hits(w: Column, markers: Seq[String]): Column =
    size(filter(w, x => x.isInCollection(markers)))

  private val enM = Seq("the", "a", "of", "and", "to")
  private val deM = Seq("der", "die", "das", "und", "ist")
  private val esM = Seq("el", "la", "de", "y", "que")
  private val frM = Seq("le", "les", "et", "des", "une")

  private def listSql(m: Seq[String]) = m.mkString("['", "', '", "']")
  private def hitsSql(m: Seq[String]) =
    s"len(list_filter(string_split(text,' '), x -> list_contains(${listSql(m)}, x)))"

  def all: Seq[QueryDef] = Seq(

    QueryDef(
      "q52_text_langid",
      (s, dir) => {
        import s.implicits._
        val w = words($"text")
        Tables.t(s, dir, "documents")
          .select($"doc_id", $"lang".as("labeled_lang"),
            hits(w, enM).as("s_en"), hits(w, deM).as("s_de"),
            hits(w, esM).as("s_es"), hits(w, frM).as("s_fr"))
          .withColumn("pred_lang",
            when($"s_en" >= greatest($"s_de", $"s_es", $"s_fr"), "en")
              .when($"s_de" >= greatest($"s_es", $"s_fr"), "de")
              .when($"s_es" >= $"s_fr", "es")
              .otherwise("fr"))
          .select($"doc_id", $"labeled_lang", $"pred_lang",
            $"s_en".cast("long").as("s_en"), $"s_de".cast("long").as("s_de"),
            $"s_es".cast("long").as("s_es"), $"s_fr".cast("long").as("s_fr"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, lang AS labeled_lang,
          CASE WHEN ${hitsSql(enM)} >= greatest(${hitsSql(deM)}, ${hitsSql(esM)}, ${hitsSql(frM)}) THEN 'en'
               WHEN ${hitsSql(deM)} >= greatest(${hitsSql(esM)}, ${hitsSql(frM)}) THEN 'de'
               WHEN ${hitsSql(esM)} >= ${hitsSql(frM)} THEN 'es'
               ELSE 'fr' END AS pred_lang,
          ${hitsSql(enM)} AS s_en, ${hitsSql(deM)} AS s_de,
          ${hitsSql(esM)} AS s_es, ${hitsSql(frM)} AS s_fr
        FROM documents ORDER BY doc_id"""),
      doc = "Language-ID heuristic: marker-word hit counts per language, deterministic argmax."),

    QueryDef(
      "q53_text_quality",
      (s, dir) => {
        import s.implicits._
        val w = words($"text")
        val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
        val nW = size(w).cast("double")
        val sumLen = aggregate(w, lit(0L), (acc, x) => acc + length(x)).cast("double")
        Tables.t(s, dir, "documents")
          .select($"doc_id",
            size(w).cast("long").as("n_words"),
            length($"text").cast("long").as("n_chars_computed"),
            round(sumLen / nW, 6).as("mean_word_len"),
            round(hits(w, stop).cast("double") / nW, 6).as("stopword_ratio"),
            round(size(filter(w, x => length(x) > 6)).cast("double") / nW, 6)
              .as("long_word_ratio"),
            round(size(array_distinct(w)).cast("double") / nW, 6).as("distinct_ratio"),
            (size(w).between(20, 1000) &&
              (size(array_distinct(w)).cast("double") / nW) > 0.3).as("passes_quality"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
          len(string_split(text,' ')) AS n_words,
          length(text) AS n_chars_computed,
          round(list_sum(list_transform(string_split(text,' '), x -> length(x)))::DOUBLE
            / len(string_split(text,' ')), 6) AS mean_word_len,
          round(len(list_filter(string_split(text,' '),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x)))::DOUBLE
            / len(string_split(text,' ')), 6) AS stopword_ratio,
          round(len(list_filter(string_split(text,' '), x -> length(x) > 6))::DOUBLE
            / len(string_split(text,' ')), 6) AS long_word_ratio,
          round(len(list_distinct(string_split(text,' ')))::DOUBLE
            / len(string_split(text,' ')), 6) AS distinct_ratio,
          len(string_split(text,' ')) BETWEEN 20 AND 1000
            AND len(list_distinct(string_split(text,' ')))::DOUBLE
                / len(string_split(text,' ')) > 0.3 AS passes_quality
        FROM documents ORDER BY doc_id"""),
      doc = "Quality scoring: word count, mean word length, stopword/long-word/distinct ratios, pass/fail gate."),

    QueryDef(
      "q54_text_tokens",
      (s, dir) => {
        import s.implicits._
        val w = words($"text")
        Tables.t(s, dir, "documents")
          .select($"doc_id",
            size(w).cast("long").as("ws_tokens"),
            expr("size(regexp_extract_all(text, '[a-z]+', 0))").cast("long")
              .as("re_tokens"),
            aggregate(w, lit(0L), (acc, x) => acc + ((length(x) + 3) / 4).cast("long"))
              .as("subword_est"),
            size(array_distinct(w)).cast("long").as("vocab"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
          len(string_split(text,' ')) AS ws_tokens,
          len(regexp_extract_all(text, '[a-z]+')) AS re_tokens,
          CAST(list_sum(list_transform(string_split(text,' '), x -> (length(x) + 3) // 4)) AS BIGINT) AS subword_est,
          len(list_distinct(string_split(text,' '))) AS vocab
        FROM documents ORDER BY doc_id"""),
      doc = "Token counting: whitespace tokens, regex tokens, BPE-ish ceil(len/4) subword estimate, vocabulary size."),

    QueryDef(
      "q55_text_fingerprint",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // Canonical bag-of-words fingerprint: md5 of the sorted distinct
        // word set — catches reorder/duplicate-word edits that exact
        // hashing misses, at one shuffle (the window on fp).
        val fp = md5(concat_ws(" ", array_sort(array_distinct(words($"text")))))
        val w = Window.partitionBy($"fp")
        Tables.t(s, dir, "documents")
          .select($"doc_id", fp.as("fp"))
          .withColumn("group_size", count(lit(1)).over(w))
          .withColumn("canonical", min($"doc_id").over(w))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, fp,
          count(*) OVER (PARTITION BY fp) AS group_size,
          min(doc_id) OVER (PARTITION BY fp) AS canonical
        FROM (SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp
          FROM documents) ORDER BY doc_id"""),
      doc = "Document fingerprinting: md5 over canonical sorted word set + dup-group stats via window."),

    QueryDef(
      "q84_tfidf_topterms",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // TF-IDF top-3 terms per document. Scale shape: tf aggregates on
        // (doc, term), df aggregates on term, scores join on term, the
        // per-doc top-k is a window — every stage a hash shuffle on its
        // natural key, nothing collected. Ranking uses the ROUNDED score
        // (with term tiebreak) so cross-engine last-ulp ln() differences
        // cannot reorder rows.
        val docs = Tables.t(s, dir, "documents")
        val n = docs.select(count(lit(1)).as("n"))
        val terms = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
        val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val df = terms.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
        val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
        tf.join(df, "term").crossJoin(n)
          .withColumn("score",
            round($"tf" * (log(($"n" + 1.0) / ($"df" + 1.0)) + 1.0), 6))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3 && $"doc_id" < 30)
          .select($"doc_id", $"rk".cast("long").as("rk"), $"term", $"score")
          .orderBy($"doc_id", $"rk")
      },
      Some("""WITH words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
            round(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 6) AS score
          FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
        SELECT doc_id, rk, term, score FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
          FROM scored)
        WHERE rk <= 3 AND doc_id < 30 ORDER BY doc_id, rk"""),
      doc = "TF-IDF top-3 terms per doc: tf/df aggregations + smooth-idf scoring + per-doc window top-k — each stage shuffles on its natural key."),

    QueryDef(
      "q141_length_histogram",
      (s, dir) => {
        import s.implicits._
        // Corpus profiling: equi-width histogram of document lengths —
        // the pass that precedes every threshold choice (quality gates,
        // packing size, truncation). Bucketing is exact integer
        // arithmetic (floor division, top bucket clamped), so the
        // histogram is engine-identical; the share divides two exact
        // counts once in double. One scan + one tiny shuffle (≤10
        // groups after map-side partial aggregation).
        val total = Tables.t(s, dir, "documents")
          .agg(count(lit(1)).as("n_total"))
        Tables.t(s, dir, "documents")
          .select(least(expr("n_chars DIV 100"), lit(9L)).as("bucket"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(total))
          .select($"bucket",
            ($"bucket" * 100).as("lo_chars"),
            $"n_docs",
            round($"n_docs".cast("double") / $"n_total".cast("double"), 6).as("share"))
          .orderBy($"bucket")
      },
      Some("""WITH b AS (
          SELECT least(n_chars // 100, 9) AS bucket FROM documents),
        tot AS (SELECT count(*) AS n_total FROM documents)
        SELECT bucket, bucket * 100 AS lo_chars, count(*) AS n_docs,
          round(count(*) * 1.0 / (SELECT n_total FROM tot), 6) AS share
        FROM b GROUP BY bucket ORDER BY bucket"""),
      doc = "Corpus length profiling: exact-integer equi-width histogram with shares — one scan, map-side partials, <=10 groups shuffled."),

    QueryDef(
      "q142_pii_redact",
      (s, dir) => {
        import s.implicits._
        // PII detection + redaction (builder brief text-analysis list;
        // reference analogue: serde/strings.scala:34-428 regexp
        // machinery). The synthetic corpus has no PII, so a
        // deterministic doc_id-derived tail plants each class in a
        // known subset of documents — both engines construct the SAME
        // text and run the SAME RE2-compatible regexes, so the oracle
        // is exact. The pipeline itself is the 100 TB shape: one scan,
        // per-row codegen'd expressions, zero shuffles before the
        // ORDER BY.
        // r15 (guide §2.5): the fixture parquet is one row group — an
        // unsplittable single-task scan — and the regex detect/redact
        // work below is the most CPU-expensive per-row surface in the
        // inventory; repartition by doc_id immediately after the read
        // so the regex pass parallelizes. r16: gated on the scan's
        // actual task count (Tables.spreadIfNarrow) so a splittable
        // at-scale input skips the exchange.
        val docs = Tables.spreadIfNarrow(
          Tables.t(s, dir, "documents"), $"doc_id")
        val withPii = docs.select($"doc_id",
          concat_ws(" ", $"text",
            when($"doc_id" % 3 === 0,
              format_string("reach user%d@example.com", $"doc_id")),
            when($"doc_id" % 4 === 0,
              format_string("call 555-%03d-%04d",
                $"doc_id" % 1000, $"doc_id" % 10000)),
            when($"doc_id" % 5 === 0,
              format_string("ssn 123-45-%04d", $"doc_id" % 10000)),
            when($"doc_id" % 7 === 0,
              format_string("card 4111-1111-1111-%04d", $"doc_id" % 10000)),
            when($"doc_id" % 2 === 0,
              format_string("from 10.0.%d.%d",
                expr("(doc_id DIV 256) % 256"), $"doc_id" % 256))).as("t"))
        val red = withPii.select($"doc_id",
            expr("pii_detect(t)").as("classes"),
            expr("pii_redact(t)").as("redacted"),
            expr("pii_redact(t, 'email')").as("email_only"))
        red.orderBy($"doc_id")
      },
      Some(s"""WITH pii AS (
          SELECT doc_id, concat_ws(' ', text,
            CASE WHEN doc_id % 3 = 0 THEN printf('reach user%d@example.com', doc_id) END,
            CASE WHEN doc_id % 4 = 0 THEN printf('call 555-%03d-%04d', doc_id % 1000, doc_id % 10000) END,
            CASE WHEN doc_id % 5 = 0 THEN printf('ssn 123-45-%04d', doc_id % 10000) END,
            CASE WHEN doc_id % 7 = 0 THEN printf('card 4111-1111-1111-%04d', doc_id % 10000) END,
            CASE WHEN doc_id % 2 = 0 THEN printf('from 10.0.%d.%d', (doc_id // 256) % 256, doc_id % 256) END) AS t
          FROM documents)
        SELECT doc_id,
          concat_ws(',',
            CASE WHEN regexp_matches(t, '${PiiOracleRe.cc}') THEN 'cc' END,
            CASE WHEN regexp_matches(t, '${PiiOracleRe.email}') THEN 'email' END,
            CASE WHEN regexp_matches(t, '${PiiOracleRe.ip}') THEN 'ip' END,
            CASE WHEN regexp_matches(t, '${PiiOracleRe.phone}') THEN 'phone' END,
            CASE WHEN regexp_matches(t, '${PiiOracleRe.ssn}') THEN 'ssn' END) AS classes,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
            '${PiiOracleRe.email}', '[EMAIL]', 'g'),
            '${PiiOracleRe.cc}', '[CC]', 'g'),
            '${PiiOracleRe.ssn}', '[SSN]', 'g'),
            '${PiiOracleRe.phone}', '[PHONE]', 'g'),
            '${PiiOracleRe.ip}', '[IP]', 'g') AS redacted,
          regexp_replace(t, '${PiiOracleRe.email}', '[EMAIL]', 'g') AS email_only
        FROM pii ORDER BY doc_id"""),
      doc = "PII detect + redact (email/phone/ssn/cc/ip) over codegen'd native expressions; RE2-compatible patterns shared verbatim with the oracle; class-restricted variant exercises the literal class-list arg."),

    QueryDef(
      "q147_bm25_retrieval",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // BM25 retrieval through an inverted index. Scale shape: the
        // postings list (tf) shuffles on term ONCE; the tiny query-term
        // table broadcasts, so only the query terms' postings ever
        // move; doc lengths shuffle on doc_id; the global (N, avgdl)
        // row broadcasts via the single-row cross join. Per-query
        // top-k is a window over candidates only. Ranking uses the
        // ROUNDED score (doc_id tiebreak) so last-ulp ln() differences
        // can't reorder rows cross-engine (the q84 discipline).
        // constants appear in the SAME literal forms as the oracle SQL
        // (a driver-side K1+1.0 could differ from the literal 2.2 in
        // the last ulp)
        val K1 = 1.2; val K1p1 = 2.2; val OneMinusB = 0.25; val B = 0.75
        val docs = Tables.t(s, dir, "documents")
        val terms = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
        val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val dlen = terms.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
        val stats = dlen.agg(count(lit(1)).as("n"), avg($"dl").as("avgdl"))
        val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val queries = Seq(
          ("hash join", "hash"), ("hash join", "join"),
          ("scan filter batch", "scan"), ("scan filter batch", "filter"),
          ("scan filter batch", "batch"),
          ("customer order", "customer"), ("customer order", "order"))
          .toDF("qid", "term")
        val w = Window.partitionBy($"qid").orderBy($"score".desc, $"doc_id")
        tf.join(broadcast(queries), "term")
          .join(df, "term")
          .join(dlen, "doc_id")
          .crossJoin(broadcast(stats))
          .groupBy($"qid", $"doc_id")
          .agg(round(sum(
            log(lit(1.0) + ($"n" - $"df" + 0.5) / ($"df" + 0.5)) *
              ($"tf" * K1p1) /
              ($"tf" + lit(K1) * (lit(OneMinusB) + lit(B) * $"dl" / $"avgdl"))), 6).as("score"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter($"rk" <= 5)
          .select($"qid", $"rk", $"doc_id", $"score")
          .orderBy($"qid", $"rk")
      },
      Some("""WITH words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        dlen AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
        stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dlen),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        q(qid, term) AS (VALUES
          ('hash join', 'hash'), ('hash join', 'join'),
          ('scan filter batch', 'scan'), ('scan filter batch', 'filter'),
          ('scan filter batch', 'batch'),
          ('customer order', 'customer'), ('customer order', 'order')),
        scored AS (
          SELECT q.qid, tf.doc_id,
            round(sum(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
              (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl))), 6)
              AS score
          FROM tf JOIN q ON tf.term = q.term
            JOIN df ON tf.term = df.term
            JOIN dlen ON tf.doc_id = dlen.doc_id
            CROSS JOIN stats
          GROUP BY 1, 2)
        SELECT qid, rk, doc_id, score FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
          FROM scored)
        WHERE rk <= 5 ORDER BY qid, rk"""),
      doc = "BM25 (k1=1.2, b=0.75) retrieval via inverted-index equi-join: broadcast query terms prune the postings, doc-length normalization joins on doc_id, global (N, avgdl) broadcasts as a single row, per-query top-5 by rounded score — no corpus-wide scan per query at any scale."),

    QueryDef(
      "q148_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        // Heavy hitters via a Misra-Gries sketch (m=64): the sketch is
        // a bounded mergeable summary — partial aggregation ships ≤ 64
        // counters per partition, never the corpus' distinct keys.
        // Sketch counter values are processing-order-dependent, so the
        // query uses the sketch only as a CANDIDATE set and exactly
        // recounts candidates with one broadcast semi-join — the
        // deterministic production form. The exact-top-10 oracle is
        // valid because every item with freq > n/64 is guaranteed to
        // be a candidate (MG survival bound; the corpus top-10 all
        // clear it — FuzzProps pins the bound on adversarial streams).
        val docs = Tables.t(s, dir, "documents")
        val terms = docs.select(explode(split($"text", " ")).as("term"))
        val sketch = terms.as[String]
          .select(graft.engine.MisraGries(64).toColumn.name("sketch"))
        val cand = sketch.select(explode($"sketch")).select($"key".as("term"))
        terms.join(broadcast(cand), "term")
          .groupBy($"term").agg(count(lit(1)).as("freq"))
          .orderBy($"freq".desc, $"term").limit(10)
      },
      Some("""SELECT term, count(*) AS freq FROM (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term ORDER BY freq DESC, term LIMIT 10"""),
      doc = "Misra-Gries heavy hitters: bounded mergeable counter sketch (typed Aggregator, partial-aggregated) proposes candidates; one broadcast semi-join recounts them exactly — deterministic top-10 without shuffling the full distinct-key space."),

    QueryDef(
      "q152_chunk_overlap",
      (s, dir) => {
        import s.implicits._
        // Overlapping-window chunking: the step that turns documents
        // into fixed-size training sequences with context overlap
        // (chunk=64 tokens, stride=48 → 16-token overlap). Pure
        // per-row explode — no shuffle at all until the final ORDER
        // BY (which a real writer wouldn't do): chunk starts are a
        // computed sequence(), the slice is a bounded array op, so a
        // 100 TB corpus chunks in one embarrassingly-parallel scan.
        // Chunks hash to md5 so the oracle checks content without
        // shipping it.
        val C = 64; val S = 48
        Tables.t(s, dir, "documents")
          .select($"doc_id", split($"text", " ").as("ts"))
          .select($"doc_id", $"ts", size($"ts").as("n"),
            explode(sequence(lit(0), greatest(size($"ts") - 1, lit(0)), lit(S)))
              .as("start"))
          .select($"doc_id", ($"start" / S).cast("long").as("chunk_id"),
            least(lit(C), $"n" - $"start").cast("long").as("n_tokens"),
            md5(concat_ws(" ",
              expr(s"slice(ts, start + 1, $C)"))).as("chunk_md5"))
          .orderBy($"doc_id", $"chunk_id")
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        starts AS (
          SELECT doc_id, ts, len(ts) AS n,
            unnest(generate_series(0, CAST(greatest(len(ts) - 1, 0) AS BIGINT), 48)) AS start
          FROM toks)
        SELECT doc_id, start // 48 AS chunk_id,
          CAST(least(64, n - start) AS BIGINT) AS n_tokens,
          md5(array_to_string(ts[start + 1 : start + 64], ' ')) AS chunk_md5
        FROM starts ORDER BY doc_id, chunk_id"""),
      doc = "Overlapping-window chunking (64-token chunks, stride 48): computed sequence() + bounded slice per row — zero-shuffle, embarrassingly parallel; chunk content verified by md5 so the oracle checks bytes without shipping them."),

    QueryDef(
      "q153_quality_classifier",
      (s, dir) => {
        import s.implicits._
        // Hashing-trick linear classifier inference (the fastText /
        // DCLM / FineWeb-Edu quality-filter shape): featurize each doc
        // as word unigrams + bigrams, hash each n-gram to one of 4096
        // weight buckets, score = mean bucket weight, keep =
        // sigmoid(score) > 0.5. The weight table here is a
        // deterministic stand-in for trained weights (w_int = bucket %
        // 1001 - 500, scaled /500) — the SHAPE is the production one:
        // a broadcast join against a 4096-row weight dim, so scoring
        // 100 TB is one scan + one broadcast, no corpus shuffle until
        // the per-doc mean (map-side partials on doc_id).
        // Determinism: weights accumulate as exact INTEGERS (one
        // double division at the end), so summation order can't change
        // the score; sigmoid is rounded to 6.
        val weights = s.range(4096).select($"id".as("bucket"),
          ($"id" % 1001 - 500).cast("long").as("w_int"))
        val toks = Tables.t(s, dir, "documents")
          .select($"doc_id", split($"text", " ").as("ts"))
        val uni = toks.select($"doc_id", explode($"ts").as("ng"))
        val bi = toks
          .select($"doc_id", explode(
            expr("transform(slice(ts, 1, size(ts) - 1), (t, i) -> concat(t, ' ', ts[i + 1]))"))
            .as("ng"))
        uni.unionAll(bi)
          .select($"doc_id",
            (conv(substring(md5($"ng"), 1, 8), 16, 10).cast("long") % 4096).as("bucket"))
          .join(broadcast(weights), "bucket")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_ngrams"), sum($"w_int").as("score_int"))
          .select($"doc_id", $"n_ngrams",
            round(lit(1.0) / (lit(1.0) +
              exp(-($"score_int" / ($"n_ngrams" * 500.0)))), 6).as("quality"))
          .withColumn("keep", $"quality" > 0.5)
          .orderBy($"doc_id")
      },
      Some("""WITH weights AS (
          SELECT range AS bucket, CAST(range % 1001 - 500 AS BIGINT) AS w_int
          FROM range(4096)),
        toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        uni AS (SELECT doc_id, unnest(ts) AS ng FROM toks),
        bi AS (
          SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS ng
          FROM toks, LATERAL unnest(generate_series(1, CAST(len(ts) - 1 AS BIGINT), 1)) g(i)),
        ngrams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        hashed AS (
          SELECT doc_id,
            CAST(('0x' || substr(md5(ng), 1, 8)) AS BIGINT) % 4096 AS bucket
          FROM ngrams),
        scored AS (
          SELECT doc_id, count(*) AS n_ngrams, sum(w.w_int) AS score_int
          FROM hashed h JOIN weights w ON h.bucket = w.bucket
          GROUP BY doc_id)
        SELECT doc_id, n_ngrams,
          round(1.0 / (1.0 + exp(-(score_int / (n_ngrams * 500.0)))), 6) AS quality,
          round(1.0 / (1.0 + exp(-(score_int / (n_ngrams * 500.0)))), 6) > 0.5 AS keep
        FROM scored ORDER BY doc_id"""),
      doc = "Hashing-trick linear quality classifier (fastText/DCLM shape): unigram+bigram features hashed to a 4096-bucket weight dim, broadcast-joined; exact-integer weight accumulation (one double division at the end) keeps the score order-independent; sigmoid rounded to 6.")
    ,

    QueryDef(
      "q158_bpe_pair_counts",
      (s, dir) => {
        import s.implicits._
        // The first step of BPE vocabulary induction (Sennrich et al.,
        // ACL'16): corpus-wide adjacent-symbol pair frequencies — the
        // pair argmax IS the first merge rule; production tokenizer
        // training is this query iterated. Two nested explodes (words,
        // then in-word character positions) down to skinny 2-char pair
        // rows; count + partial aggs map-side, then one shuffle on the
        // pair key. Position generation uses sequence+explode over a
        // CHEAP length expression (never a nested higher-order lambda —
        // the q156 InferFiltersFromGenerate lesson). At 100 TB: no
        // joins, bounded key space (alphabet^2), agg-only shuffles.
        val pairs = Tables.t(s, dir, "documents")
          .select(explode(split($"text", " ")).as("wd"))
          .filter(length($"wd") >= 2)
          .select($"wd", explode(sequence(lit(1), length($"wd") - 1)).as("i"))
          .select(expr("substr(wd, i, 2)").as("pair"))
        pairs.groupBy($"pair")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"pair")
          .limit(20)
          .select($"pair", $"n")
      },
      Some("""WITH w AS (
          SELECT unnest(string_split(text, ' ')) AS wd FROM documents),
        p AS (
          SELECT substr(wd, i, 2) AS pair
          FROM w, UNNEST(generate_series(1, len(wd) - 1)) AS t(i)
          WHERE len(wd) >= 2)
        SELECT pair, CAST(count(*) AS BIGINT) AS n
        FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20"""),
      doc = "BPE vocabulary induction step: corpus-wide adjacent character-pair frequencies (the argmax pair is the first merge rule); nested explode to skinny pair rows, map-side partial aggregation, top-20 by count.")
  ) :+
    QueryDef(
      "q197_lr_inference",
      (s, dir) => {
        import s.implicits._
        // Batch model inference — the quality-classifier scoring pass a
        // training pipeline runs over every document (fastText/LR-style):
        // engineered features → logistic score → per-source routing
        // stats. Pure map-side expressions + one bounded groupBy; at
        // 100 TB the scoring is scan-speed and only the tiny per-source
        // rollup shuffles. Determinism discipline: weights and features
        // are DYADIC rationals (1/1024, 1/64, 0.5, 0.25, 0.75, 1.5) and
        // n_chars/token counts are integral, so the linear term z is
        // EXACT in double — the z>0 decision can never straddle an ULP.
        // Only exp() in the sigmoid may differ at 1 ULP across engines;
        // it lands in an avg over hundreds of rows, rounded at 6dp.
        val docs = Tables.t(s, dir, "documents")
        val z = lit(0.5) * ($"n_chars".cast("double") / 1024.0) -
          lit(0.25) * (size(split($"text", " ")).cast("double") / 64.0) +
          lit(0.75) * when($"lang" === "en", 1.0).otherwise(0.0) -
          lit(1.5)
        docs.withColumn("z", z)
          .withColumn("score", lit(1.0) / (lit(1.0) + exp(-$"z")))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"z" > 0, 1L).otherwise(0L)).as("n_accept"),
            round(avg($"score"), 6).as("avg_score"))
          .orderBy($"source")
      },
      Some("""WITH scored AS (
          SELECT source,
            0.5::DOUBLE * (n_chars::DOUBLE / 1024.0::DOUBLE)
              - 0.25::DOUBLE * (len(string_split(text, ' '))::DOUBLE / 64.0::DOUBLE)
              + 0.75::DOUBLE * (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END)::DOUBLE
              - 1.5::DOUBLE AS z
          FROM documents)
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN z > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
          round(avg(1.0::DOUBLE / (1.0::DOUBLE + exp(-z))), 6) AS avg_score
        FROM scored GROUP BY source ORDER BY source"""),
      doc = "Batch LR/fastText-style quality-classifier inference: dyadic-exact linear term (ULP-proof accept decision), sigmoid scoring, per-source routing stats — scan-speed map-side scoring with one bounded rollup shuffle.")
}

/** The exact regex text [[org.apache.spark.sql.graft.PiiPatterns]]
  * compiles, re-escaped for embedding in a single-quoted SQL literal
  * (the patterns contain no quotes, so this is a pass-through — the
  * indirection just guarantees oracle and engine can never drift).
  */
private object PiiOracleRe {
  import org.apache.spark.sql.graft.PiiPatterns
  val email: String = PiiPatterns.EMAIL
  val cc: String = PiiPatterns.CC
  val ssn: String = PiiPatterns.SSN
  val phone: String = PiiPatterns.PHONE
  val ip: String = PiiPatterns.IP
}
