package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftColumnarGroupedAggExec
import graft.engine.MinHashAggregator
import graft.queries.{DedupQueries, TemporalJoinQueries}

/** Property-based fuzzing (reference layer 3, FuzzDataGenerator.scala
  * pattern, via ScalaCheck): randomized inputs against invariants that
  * must hold for ANY data — partitioning-invariance of exact decimal
  * aggregation, codegen-vs-interpreted agreement for the native
  * expression, algebraic laws of the sketch aggregator.
  */
object FuzzProps extends Properties("graft") {

  private lazy val spark = GraftTestBase.spark
  import spark.implicits._

  // each case runs Spark jobs — 20 cases per property is plenty for CI;
  // GRAFT_FUZZ_N=500 (etc.) soaks a longer run off the critical path
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(20))

  private val moneyGen: Gen[List[Double]] =
    Gen.listOfN(60, Gen.chooseNum(-99999.99, 99999.99).map(d => math.round(d * 100) / 100.0))

  property("decimal sum is partitioning-invariant") = forAll(moneyGen, Gen.choose(1, 8)) {
    (xs: List[Double], parts: Int) =>
      xs.isEmpty || {
        val df = xs.toDF("x")
        def total(p: Int) = df.repartition(p)
          .agg(sum($"x".cast("decimal(18,2)")).cast("double")).collect().head.getDouble(0)
        total(1) == total(parts)
      }
  }

  property("cosine_sim(v, v) = 1 for any nonzero finite vector") =
    forAll(Gen.listOfN(16, Gen.chooseNum(-100f, 100f))) { v: List[Float] =>
      v.forall(_ == 0f) || {
        val r = Seq((v.toArray, v.toArray)).toDF("a", "b")
          .selectExpr("cosine_sim(a, b) AS c").collect().head
        !r.isNullAt(0) && math.abs(r.getDouble(0) - 1.0) < 1e-9
      }
    }

  // skewed stream: a few hot keys over a long tail — the adversarial
  // shape for a bounded counter sketch (evictions happen constantly)
  private val mgStreamGen: Gen[List[String]] = for {
    hot <- Gen.listOfN(3, Gen.choose(0, 5).map(i => s"hot$i"))
    body <- Gen.listOfN(400, Gen.frequency(
      3 -> Gen.oneOf(hot),
      7 -> Gen.choose(0, 200).map(i => s"t$i")))
  } yield body

  property("misra-gries: survival + error bound hold under any merge order") =
    forAll(mgStreamGen, Gen.choose(2, 12), Gen.choose(2, 6)) {
      (xs: List[String], m: Int, nChunks: Int) =>
        xs.isEmpty || {
          val mg = graft.engine.MisraGries(m)
          // partition the stream, reduce each chunk, merge pairwise —
          // the exact shape Spark's partial aggregation produces
          val chunks = xs.grouped(math.max(1, xs.size / nChunks)).toList
          val sketch = chunks
            .map(_.foldLeft(mg.zero)(mg.reduce))
            .reduce(mg.merge)
          val exact = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
          val bound = xs.size.toLong / m
          val survival = exact.forall { case (k, c) =>
            c <= bound || sketch.contains(k) }
          val errorOk = sketch.forall { case (k, est) =>
            val c = exact.getOrElse(k, 0L)
            est <= c && est >= c - bound }
          val sizeOk = sketch.size <= m
          survival && errorOk && sizeOk
        }
    }

  property("minhash merge: commutative + idempotent + dominated by inputs") =
    forAll(Gen.listOfN(MinHashAggregator.K, Gen.choose(0L, 1L << 37)),
           Gen.listOfN(MinHashAggregator.K, Gen.choose(0L, 1L << 37))) {
      (a: List[Long], b: List[Long]) =>
        val m1 = MinHashAggregator.merge(a.toArray, b.toArray).toSeq
        val m2 = MinHashAggregator.merge(b.toArray, a.toArray).toSeq
        val mi = MinHashAggregator.merge(a.toArray, a.toArray).toSeq
        m1 == m2 && mi == a &&
          m1.zip(a.zip(b)).forall { case (m, (x, y)) => m == math.min(x, y) }
    }

  private val vocab = Vector("key", "row", "scan", "agg", "table", "sort", "join", "hash", "data", "fast")
  private val docGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(6, 12)
    texts <- Gen.listOfN(n, Gen.choose(5, 25).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
    // seed a near-dup: doc n gets doc 0's text with one word appended
    withDup = texts :+ (texts.head + " " + vocab.head)
  } yield withDup.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("inverted-index Jaccard kernel matches in-memory brute force") =
    forAll(docGen) { docs: Seq[(Long, String)] =>
      val df = docs.toDF("doc_id", "text")
      val got = DedupQueries.jaccardPairs(df, 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // brute force: distinct word-trigram sets, exact set Jaccard
      val sets = docs.map { case (id, t) =>
        id -> t.split(" ").toSeq.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
      val expected = (for {
        (i, si) <- sets; (j, sj) <- sets if i < j
        inter = (si & sj).size
        union = (si | sj).size
        jac = inter.toDouble / union if jac >= 0.5
      } yield (i, j, math.rint(jac * 1e6) / 1e6)).toSet
      got == expected
    }

  private val edgeGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 14) // node ids 0..n
    m <- Gen.choose(1, 18)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong)
      b <- Gen.choose(0L, n.toLong) if a != b
    } yield (math.min(a, b), math.max(a, b)))
  } yield edges.distinct

  property("connected components matches in-memory union-find") =
    forAll(edgeGen) { edges: Seq[(Long, Long)] =>
      edges.isEmpty || {
        val got = graft.queries.GraphQueries
          .connectedComponents(edges.toDF("d1", "d2"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // brute force: union-find with path compression, then relabel
        // each root to the min member of its class (the kernel's
        // canonical label).
        val parent = collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) => parent(find(a)) = find(b) }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val minOfRoot = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
        val expected = nodes.map(v => v -> minOfRoot(find(v))).toMap
        got == expected
      }
    }

  property("round half-up matches BigDecimal HALF_UP at 2dp") =
    forAll(Gen.chooseNum(-10000.0, 10000.0)) { d: Double =>
      val sparkR = Seq(d).toDF("x").select(round($"x", 2)).collect().head.getDouble(0)
      val bdR = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      sparkR == bdR
    }

  // ---- nested-type / boundary-value / timezone fuzz (reference
  // FuzzDataGenerator.scala:50-230 scope: nested arrays/structs/maps,
  // boundary scalars, timezones — realized as codegen-vs-interpreted
  // agreement properties, our analogue of with-Comet vs without).

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def codegenInvariant(run: => Seq[String]): Boolean = {
    val base = run
    val interpreted = withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run)
    base == interpreted
  }

  final case class NestRow(id: Long, tags: Seq[String], nums: Seq[Int], kv: Map[String, Long])

  private val nestGen: Gen[List[NestRow]] = Gen.listOfN(8, for {
    id <- Gen.choose(0L, 1000L)
    tags <- Gen.listOf(Gen.oneOf(vocab)).map(_.take(6))
    nums <- Gen.listOf(Gen.oneOf(Int.MinValue, -1, 0, 1, Int.MaxValue)).map(_.take(6))
    kv <- Gen.mapOf(Gen.zip(Gen.oneOf("k0", "k1", "k2"), Gen.choose(-10L, 10L)))
  } yield NestRow(id, tags, nums, kv))

  property("nested arrays/structs/maps: codegen and interpreted agree") =
    forAll(nestGen) { rows: List[NestRow] =>
      rows.isEmpty || codegenInvariant {
        rows.toDF().select($"id",
            to_json(struct($"tags", $"nums", $"kv")).as("js"),
            array_join(array_sort($"tags"), ",").as("sorted_tags"),
            array_join(array_sort($"nums").cast("array<string>"), ",").as("sorted_nums"),
            coalesce(element_at($"kv", "k0"), lit(-999L)).as("v0"),
            size($"nums").as("n"),
            array_join(array_sort(map_keys($"kv")), ",").as("keys"))
          .collect().map(_.toString).sorted.toSeq
      }
    }

  private val boundaryDouble: Gen[Double] = Gen.oneOf(
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    -0.0, 0.0, Double.MinPositiveValue, 1.7e308, -1.7e308, math.Pi)
  private val boundaryInt: Gen[Int] = Gen.oneOf(
    Int.MinValue, Int.MinValue + 1, -1, 0, 1, Int.MaxValue)

  property("boundary scalars survive try-arithmetic/cast identically under codegen") =
    forAll(Gen.listOfN(6, Gen.zip(boundaryInt, boundaryDouble))) { pairs =>
      pairs.isEmpty || codegenInvariant {
        pairs.toDF("i", "d").selectExpr(
            "i", "d",
            "try_add(i, 1)", "try_subtract(i, 1)", "try_multiply(i, 2)",
            "try_cast(d AS BIGINT)", "CAST(d AS STRING)",
            "nanvl(d, -1.0D)", "isnan(d)", "d = 0.0D",
            "try_cast(i AS SMALLINT)", "hash(i, d)")
          .collect().map(_.toString).sorted.toSeq
      }
    }

  property("hot-shingle-capped Jaccard matches brute force with the same cap") =
    forAll(docGen, Gen.choose(1, 6)) { (docs: Seq[(Long, String)], cap: Int) =>
      val df = docs.toDF("doc_id", "text")
      val got = DedupQueries.jaccardPairs(df, 0.3, Some(cap)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // brute force over trigram sets with shingles of df > cap removed
      val sets0 = docs.map { case (id, t) =>
        id -> t.split(" ").toSeq.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      }
      val dfreq = sets0.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      val sets = sets0.map { case (id, s) => id -> s.filter(dfreq(_) <= cap) }
        .filter(_._2.nonEmpty)
      val expected = (for {
        (i, si) <- sets; (j, sj) <- sets if i < j
        inter = (si & sj).size
        union = (si | sj).size
        jac = inter.toDouble / union if jac >= 0.3
      } yield (i, j, math.rint(jac * 1e6) / 1e6)).toSet
      got == expected
    }

  // ---- as-of join kernel vs in-memory brute force: for random probe
  // and quote sets the windowed-LOCF formulation must equal the naive
  // "latest quote at or before each probe" definition.

  private val asofGen: Gen[(List[(Int, Long)], List[(Int, Long, Double)])] = for {
    nq <- Gen.choose(0, 15)
    np <- Gen.choose(1, 15)
    quotes <- Gen.listOfN(nq, Gen.zip(Gen.choose(0, 3), Gen.choose(0L, 50L), Gen.choose(0.0, 9.0)))
    probes <- Gen.listOfN(np, Gen.zip(Gen.choose(0, 3), Gen.choose(0L, 50L)))
  } yield (probes, quotes.groupBy(q => (q._1, q._2)).map(_._2.head).toList) // unique (key, ts)

  property("as-of join kernel matches in-memory brute force") =
    forAll(asofGen) { case (probes, quotes) =>
      val pdf = probes.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("pid", "k", "pt")
      val qdf = quotes.toDF("k", "qt", "v")
      val got = TemporalJoinQueries.asofJoin(pdf, qdf, "k", "pt", "qt", "v")
        .select($"pid", $"__asof_t".as("qt"), $"__asof_v".as("v"))
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      val expected = probes.zipWithIndex.map { case ((k, t), i) =>
        val best = quotes.filter(q => q._1 == k && q._2 <= t).sortBy(_._2).lastOption
        (i.toLong, best.map(_._2), best.map(_._3))
      }.toSet
      got == expected
    }

  private val rangeRowsGen: Gen[List[(Int, Long)]] = for {
    n <- Gen.choose(1, 25)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 100L)))
  } yield rows

  property("banded range-join kernel matches in-memory brute force") =
    forAll(rangeRowsGen, Gen.choose(1L, 40L)) { (rows, window) =>
      val df = rows.zipWithIndex.map { case ((k, t), i) => (k, i.toLong, t) }
        .toDF("k", "id", "t")
      val got = TemporalJoinQueries.rangePairs(df, "k", "id", "t", window)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val idx = rows.zipWithIndex.map { case ((k, t), i) => (k, i.toLong, t) }
      val expected = (for {
        (ka, ia, ta) <- idx; (kb, ib, tb) <- idx
        if ka == kb && ia != ib && tb - ta >= 0 && tb - ta <= window
      } yield (ka, ia, ib)).toSet
      got == expected
    }

  private val microsGen: Gen[Long] =
    Gen.choose(-2208988800000000L, 4102444800000000L) // ~1900..2100
  private val tzGen: Gen[String] = Gen.oneOf(
    "UTC", "America/Los_Angeles", "Asia/Kolkata", "Australia/Sydney")

  property("timezone shifts and formatting: codegen and interpreted agree") =
    forAll(Gen.listOfN(6, microsGen), tzGen) { (us: List[Long], tz: String) =>
      us.isEmpty || codegenInvariant {
        us.toDF("us").selectExpr(
            "timestamp_micros(us) AS ts",
            s"from_utc_timestamp(timestamp_micros(us), '$tz')",
            s"to_utc_timestamp(timestamp_micros(us), '$tz')",
            "date_format(timestamp_micros(us), 'yyyy-MM-dd HH:mm:ss.SSS')",
            "year(timestamp_micros(us))", "dayofyear(timestamp_micros(us))",
            "unix_micros(timestamp_micros(us))")
          .collect().map(_.toString).sorted.toSeq
      }
    }

  // random strings incl. multibyte, surrogate-pair, control, and empty
  private val strGen: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    6 -> Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\t', 'ß', 'Ü', 'é', '中', '日', 'λ'),
      1 -> Gen.oneOf("🙂🚀".toList))).map(cs => Some(cs.mkString)))

  property("columnar string kernels match the row path on random unicode") =
    forAll(Gen.listOfN(24, strGen)) { (xs: List[Option[String]]) =>
      xs.isEmpty || {
        // parquet round-trip so the scan is columnar and the rule fires
        val dir = java.nio.file.Files.createTempDirectory("graft-strfuzz").toString
        xs.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
          .write.mode("overwrite").parquet(dir)
        def proj = spark.read.parquet(dir).select($"id",
          upper($"s"), lower($"s"), trim($"s"), substring($"s", 2, 3),
          substring($"s", -2, 2), concat($"s", lit("|"), $"s"), length($"s"))
        val on = proj.collect().map(_.toString).sorted.toSeq
        val off = withConf(
          org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
          proj.collect().map(_.toString).sorted.toSeq
        }
        Prop(on == off) :| s"columnar=$on row=$off"
      }
    }

  // money doubles within DECIMAL(18,2): negatives, zeros, nulls — no
  // ANSI-overflow values (the deterministic lazy-ANSI tests in
  // EngineSuite cover the throw sites; here every case must complete)
  private val money128Gen: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf(Some(0.0), Some(-0.0), Some(0.01), Some(-0.01)),
    6 -> Gen.chooseNum(-1e9, 1e9).map(d => Some(math.round(d * 100) / 100.0)))

  property("decimal128 kernels + conditional money sums match the row path") =
    forAll(Gen.listOfN(40, Gen.zip(Gen.oneOf("A", "B", "R"), money128Gen, money128Gen,
      Gen.chooseNum(1, 50)))) { rows =>
      Prop.propBoolean(rows.nonEmpty) ==> {
        val dir = java.nio.file.Files.createTempDirectory("graft-d128fuzz").toString
        rows.zipWithIndex.map { case ((f, p, d, q), i) => (i.toLong, f, p, d, q) }
          .toDF("id", "flag", "price", "disc", "qty")
          .write.mode("overwrite").parquet(dir)
        def dec18(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
        // every dec128 node family: Mul64x64 (via the +1-digit subtract →
        // Mul128x64), Add128/rescale (the Q9 amount shape), CaseWhen128,
        // and the int128 partial+final sums over a grouped key
        def q() = {
          val df = spark.read.parquet(dir)
          val rev = dec18(df("price")) * (lit(1).cast("decimal(18,2)") - dec18(df("disc")))
          val amount = rev - dec18(df("qty")) * dec18(df("disc"))
          df.groupBy(df("flag")).agg(
            sum(when(df("flag") === "R", rev).otherwise(lit(0).cast("decimal(37,4)")))
              .as("cond_rev"),
            sum(rev).as("revs"),
            sum(amount).as("amounts"),
            min(df("qty")).as("mn"),
            count(df("price")).as("n"))
            .orderBy(df("flag"))
        }
        val on = q().collect().map(_.toString).toSeq
        val off = withConf(
          org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") {
          q().collect().map(_.toString).toSeq
        }
        Prop(on == off) :| s"columnar=$on row=$off"
      }
    }

  // doubles incl. NaN, +-0.0, +-Inf — the ordering edge cases SQLOrderingUtil defines
  private val keyDoubleGen: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf(Some(Double.NaN), Some(0.0), Some(-0.0),
      Some(Double.PositiveInfinity), Some(Double.NegativeInfinity)),
    6 -> Gen.chooseNum(-1e6, 1e6).map(Some(_)))

  property("columnar window-group-limit matches the row path at any maxGroups (bailout fuzz)") =
    forAll(Gen.listOfN(120, Gen.zip(Gen.choose(0, 15), keyDoubleGen)),
      Gen.choose(1, 4), Gen.oneOf(1, 2, 3, 7, 1000)) {
      (xs: List[(Int, Option[Double])], k: Int, maxGroups: Int) =>
      xs.isEmpty || {
        // random maxGroups forces the adaptive bailout at random points
        // (incl. mid-batch) — the remainder-emission path must never
        // change final results
        val dir = java.nio.file.Files.createTempDirectory("graft-wglfuzz").toString
        xs.zipWithIndex.map { case ((g, d), i) => (i.toLong, g.toLong, d) }
          .toDF("id", "g", "d").repartition(3).write.mode("overwrite").parquet(dir)
        def run = {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("g")).orderBy(col("d").desc_nulls_last, col("id"))
          spark.read.parquet(dir)
            .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
            .collect().map(_.toString).sorted.toSeq
        }
        val on = withConf(
          org.apache.spark.sql.graft.GraftColumnarRule.wglMaxGroupsKey -> maxGroups.toString) { run }
        val off = withConf(
          org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { run }
        Prop(on == off) :| s"k=$k maxGroups=$maxGroups columnar=$on row=$off"
      }
    }

  property("columnar top-k matches the row TakeOrderedAndProject on any data/ordering/offset") =
    forAll(Gen.listOfN(40, Gen.zip(keyDoubleGen, strGen)),
      Gen.choose(1, 12), Gen.choose(0, 3), Gen.oneOf(true, false),
      Gen.choose(0, 6)) {
      (xs: List[(Option[Double], Option[String])], k: Int, ordMode: Int,
       strKey: Boolean, off: Int) =>
      xs.isEmpty || {
        // parquet round-trip so the scan is columnar and the swap fires
        val dir = java.nio.file.Files.createTempDirectory("graft-topkfuzz").toString
        xs.zipWithIndex.map { case ((d, s), i) => (i.toLong, d, s) }
          .toDF("id", "d", "s").write.mode("overwrite").parquet(dir)
        val key = if (strKey) "s" else "d"
        def run = {
          val c = col(key)
          val so = ordMode match {
            case 0 => c.asc; case 1 => c.desc
            case 2 => c.asc_nulls_last; case 3 => c.desc_nulls_first
          }
          // unique id tiebreak → fully deterministic order, compared AS
          // ORDERED; OFFSET folds into the same TakeOrderedAndProject
          val sorted = spark.read.parquet(dir).orderBy(so, col("id"))
          (if (off > 0) sorted.offset(off) else sorted).limit(k)
            .collect().map(_.toString).toSeq
        }
        val on = run
        val row = withConf(
          org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { run }
        Prop(on == row) :| s"k=$k off=$off ord=$ordMode strKey=$strKey columnar=$on row=$row"
      }
    }

  property("computed string filter compares match the row path for any kernel tree") = {
    val strElem: Gen[Option[String]] = Gen.frequency(
      3 -> Gen.alphaNumStr.map(s => Some(s.take(12))),
      2 -> Gen.oneOf(" pad ", "", "ß日本", "web-x", "AbC", "ZZ z", " x").map(Some(_)),
      1 -> Gen.const(None))
    forAll(Gen.listOfN(30, strElem), Gen.choose(-3, 5), Gen.choose(0, 6),
      Gen.choose(0, 4), Gen.choose(0, 2)) {
      (xs: List[Option[String]], pos: Int, len: Int, shape: Int, opMode: Int) =>
      xs.isEmpty || {
        val dir = java.nio.file.Files.createTempDirectory("graft-strfuzz").toString
        xs.zipWithIndex.map { case (s, i) => (i.toLong, s, s.map(_.reverse)) }
          .toDF("id", "s", "r").write.mode("overwrite").parquet(dir)
        def run = {
          val t = spark.read.parquet(dir)
          // only swap-worthy trees (md5-bearing or allocation-free views):
          // the gated-off shapes keep the row path on both runs — still a
          // valid parity check but exercising nothing; bias to swapping
          val lhs = shape match {
            case 0 => substring(col("s"), pos, math.max(len, 0))
            case 1 => trim(col("s"))
            case 2 => substring(trim(col("s")), pos, math.max(len, 0))
            case 3 => md5(col("s"))
            case _ => substring(md5(concat(col("s"), col("r"))), 1, math.max(len, 1))
          }
          val rhs = shape match {
            case 0 => substring(col("r"), pos, math.max(len, 0))
            case 1 => lit("m")
            case 2 => col("r")
            case 3 => md5(col("r"))
            case _ => lit("8")
          }
          val pred = opMode match {
            case 0 => lhs === rhs; case 1 => lhs < rhs; case _ => lhs >= rhs
          }
          t.filter(pred).select(col("id")).collect().map(_.getLong(0)).toSet
        }
        val on = run
        val row = withConf(
          org.apache.spark.sql.graft.GraftColumnarRule.enabledKey -> "false") { run }
        Prop(on == row) :| s"shape=$shape op=$opMode pos=$pos len=$len columnar=$on row=$row"
      }
    }
  }

  // The columnar join probes' packed composite key must match
  // HashJoin.rewriteKeyExpr's packed long BIT-FOR-BIT for every value —
  // that equality is what lets the probe consume Spark's own
  // LongHashedRelation. Evaluate Spark's rewritten expression on a row
  // and compare against the vector-side packer over the same values.
  property("packedKeyGetter == HashJoin.rewriteKeyExpr for any (int|short|byte)+ key set") = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types._
    val typeGen = Gen.oneOf(IntegerType, ShortType, ByteType)
    val valGen: Gen[Long] = Gen.oneOf(
      Gen.const(0L), Gen.const(-1L), Gen.const(1L),
      Gen.const(Int.MinValue.toLong), Gen.const(Int.MaxValue.toLong),
      Gen.chooseNum(Long.MinValue, Long.MaxValue))
    forAll(Gen.listOfN(2, typeGen), Gen.listOfN(2, valGen), typeGen, valGen) {
      (ts2, vs2, t3, v3) =>
        // 2- or 3-key sets, truncated to the declared widths
        val types = (ts2 :+ t3).take(if (v3 % 2 == 0) 2 else 3)
        Prop.propBoolean(types.map(_.defaultSize).sum <= 8) ==> {
          val vals = (vs2 :+ v3).zip(types).map {
            case (v, IntegerType) => java.lang.Integer.valueOf(v.toInt)
            case (v, ShortType) => java.lang.Short.valueOf(v.toShort)
            case (v, ByteType) => java.lang.Byte.valueOf(v.toByte)
            case (v, other) => throw new IllegalStateException(s"$other")
          }
          // Spark's packing, evaluated on an InternalRow
          val keyExprs = types.zipWithIndex.map { case (dt, i) =>
            BoundReference(i, dt, nullable = false) }
          val packedExpr = org.apache.spark.sql.execution.joins.HashJoin
            .rewriteKeyExpr(keyExprs).head
          val row = org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
          val expected = packedExpr.eval(row).asInstanceOf[Long]
          // the probe's packing, over single-slot column vectors
          val cols: Array[org.apache.spark.sql.vectorized.ColumnVector] =
            types.zip(vals).map { case (dt, v) =>
              val cv = new org.apache.spark.sql.execution.vectorized
                .OnHeapColumnVector(1, dt)
              dt match {
                case IntegerType => cv.putInt(0, v.asInstanceOf[java.lang.Integer])
                case ShortType => cv.putShort(0, v.asInstanceOf[java.lang.Short])
                case ByteType => cv.putByte(0, v.asInstanceOf[java.lang.Byte])
                case other => throw new IllegalStateException(s"$other")
              }
              cv: org.apache.spark.sql.vectorized.ColumnVector
            }.toArray
          val actual = org.apache.spark.sql.execution.graft.GraftColumnarBHJExec
            .packedKeyGetter(cols, types.toArray)(0)
          Prop(actual == expected) :| s"types=$types vals=${vals.toList} " +
            s"expected=$expected actual=$actual"
        }
    }
  }

  // sliding/rolling window kernels: ANY frame bounds (empty, both-
  // preceding, both-following, wider than partitions), null-heavy
  // values, and occasional |v| > 2^41 (flips the ANSI sum off the
  // incremental lane mid-partition) must match the row WindowExec
  // exactly — the invertible add/subtract + deque kernels vs Spark's
  // per-frame recompute
  private val winFrameGen: Gen[(List[(Long, Option[Long], Option[Double])], Int, Int)] =
    for {
      n <- Gen.choose(40, 300)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, 4L)
        v <- Gen.frequency(
          10 -> Gen.choose(-1000L, 1000L).map(Option(_)),
          2 -> Gen.const(Option.empty[Long]),
          1 -> Gen.oneOf(Option(1L << 45), Option(-(1L << 44))))
        d <- Gen.frequency(
          5 -> Gen.chooseNum(-100.0, 100.0).map(Option(_)),
          1 -> Gen.const(Option.empty[Double]))
      } yield (k, v, d))
      lo <- Gen.choose(-80, 80)
      hi <- Gen.choose(lo, 80)
    } yield (rows, lo, hi)

  property("sliding + range window kernels match the row WindowExec for any frame") =
    forAll(winFrameGen, Gen.oneOf(true, false)) { case ((rows, lo, hi), computedKey) =>
      rows.isEmpty || {
        import org.apache.spark.sql.expressions.Window
        val df = rows.zipWithIndex
          .map { case ((k, v, d), i) => (k, i.toLong, v, d) }
          .toDF("k", "o", "v", "d")
        // computedKey exercises the canonicalization retry: the rule
        // materializes the pmod partition key AND the shifted order key
        // in a Project below and re-swaps — identical groups (pmod(k+3,
        // 5) is injective on k∈0..4) and identical order (o+5 is
        // monotone; RANGE distances are unchanged), same row-path answer
        val pcol = if (computedKey) pmod($"k" + lit(3L), lit(5L)) else $"k"
        val ocol = if (computedKey) $"o" + lit(5L) else $"o"
        val w = Window.partitionBy(pcol).orderBy(ocol).rowsBetween(lo, hi)
        val wr = Window.partitionBy(pcol).orderBy(ocol).rangeBetween(lo, hi)
        // every expression shares (PARTITION BY key, ORDER BY o), so
        // Spark plans ONE WindowExec mixing sliding ROWS + sliding
        // RANGE + running + offset + size-based + both suffix kinds —
        // the mixed-kind splitter fans it into up to five homogeneous
        // graft nodes whose composition varies with the random bounds
        val wp = Window.partitionBy(pcol).orderBy(ocol)
        val wsuf = wp.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val wsufR = wp.rangeBetween(Window.currentRow, Window.unboundedFollowing)
        def q(): Seq[org.apache.spark.sql.Row] = df.select($"k", $"o",
          sum($"v").over(w).as("s"), min($"v").over(w).as("mn"),
          max($"d").over(w).as("mx"), count($"v").over(w).as("c"),
          sum($"v").over(wr).as("rs"), min($"d").over(wr).as("rmn"),
          count(lit(1)).over(wr).as("rc"),
          sum($"v").over(wp.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("run"),
          lag($"v", 1).over(wp).as("lg"),
          ntile(3).over(wp).as("nt"),
          sum($"v").over(wsuf).as("sfx"), min($"v").over(wsuf).as("sfxmn"),
          count(lit(1)).over(wsufR).as("sfxrc"))
          .orderBy($"k", $"o").collect().toSeq
        val on = q()
        val off = try {
          spark.conf.set("spark.graft.columnar.window.enabled", "false")
          q()
        } finally spark.conf.unset("spark.graft.columnar.window.enabled")
        val ok = on == off
        if (!ok) println(s"FAILCASE lo=$lo hi=$hi computedKey=$computedKey rows=$rows\nON =$on\nOFF=$off")
        ok
      }
    }

  // ── splitter composition: random FUNCTION SUBSETS over one spec ──
  // The property above fixes the expression list and varies frames; this
  // axis varies WHICH functions share the node, so the mixed-kind
  // splitter's grouping (streaming / size-based / sliding / range /
  // suffix chains), chain ordering, and merge-back (non-compilable
  // picks like double avg/sum force row nodes beside swapped ones) are
  // all exercised against the unsplit row WindowExec. o is unique per
  // partition, so every pick is deterministic and the final (k, o)
  // sort is total. Soaked clean at GRAFT_FUZZ_N=300 (2026-08-15, all 21
  // properties, zero falsifications); failures print the full case for
  // seeded replay (see the FAILCASE line).
  private val winComposeGen: Gen[(List[(Long, Option[Long], Double)], Long, Long, List[Int])] =
    for {
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, 3L)
        v <- Gen.frequency(
          6 -> Gen.choose(-1000L, 1000L).map(Option(_)),
          2 -> Gen.const(Option.empty[Long]))
        d <- Gen.choose(-100000, 100000).map(_ / 100.0)
      } yield (k, v, d))
      lo <- Gen.choose(-20L, 20L)
      span <- Gen.choose(0L, 25L)
      picks <- Gen.someOf(0 until 17).map(_.toList)
      if picks.nonEmpty
    } yield (rows, lo, lo + span, picks)

  property("mixed window compositions: any function subset splits/merges back exactly") =
    forAll(winComposeGen) { case (rows, lo, hi, picks) =>
      rows.isEmpty || {
        import org.apache.spark.sql.expressions.Window
        val df = rows.zipWithIndex
          .map { case ((k, v, d), i) => (k, i.toLong, v, d) }
          .toDF("k", "o", "v", "d")
        val wp = Window.partitionBy($"k").orderBy($"o")
        val w = wp.rowsBetween(lo, hi)
        val wr = wp.rangeBetween(lo, hi)
        val wrun = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wsuf = wp.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val wsufR = wp.rangeBetween(Window.currentRow, Window.unboundedFollowing)
        val menu: Seq[org.apache.spark.sql.Column] = Seq(
          sum($"v").over(w).as("c0"),
          min($"v").over(w).as("c1"),
          avg($"d").over(w).as("c2"), // double avg: row node beside swaps
          sum($"d").over(wr).as("c3"), // double range sum: rescan/row
          count($"v").over(wr).as("c4"),
          sum($"v").over(wrun).as("c5"),
          lag($"v", 2, -1L).over(wp).as("c6"),
          lead($"v", 1).over(wp).as("c7"),
          row_number().over(wp).as("c8"),
          rank().over(wp).as("c9"),
          ntile(4).over(wp).as("c10"),
          percent_rank().over(wp).as("c11"),
          cume_dist().over(wp).as("c12"),
          sum($"v").over(wsuf).as("c13"),
          first(when($"v" > 0L, $"v"), ignoreNulls = true).over(wsuf).as("c14"),
          last($"v").over(wrun).as("c15"),
          count(lit(1)).over(wsufR).as("c16"))
        val cols = Seq($"k", $"o") ++ picks.map(menu)
        def q(): Seq[org.apache.spark.sql.Row] =
          df.select(cols: _*).orderBy($"k", $"o").collect().toSeq
        val on = q()
        val off = try {
          spark.conf.set("spark.graft.columnar.window.enabled", "false")
          q()
        } finally spark.conf.unset("spark.graft.columnar.window.enabled")
        val ok = on == off
        if (!ok) println(s"FAILCASE picks=$picks lo=$lo hi=$hi rows=$rows\nON =$on\nOFF=$off")
        ok
      }
    }

  // ── join kernels: random data × all 6 types × all 3 physical joins ──
  // Null keys (never match, but outer rows must survive), a hot build
  // key (duplicate matches → chunked probe emission), negative keys
  // (sign-extension in the packed layout), and string keys (unsafe-row
  // relations) — engine-on must equal engine-off for broadcast, shuffled
  // hash (hint), and sort-merge (hint) plans alike.
  private val joinGen: Gen[(List[(Option[Long], Long)], List[(Option[Long], Long)], String, String)] =
    for {
      nb <- Gen.choose(0, 25)
      ns <- Gen.choose(0, 60)
      keyG = Gen.frequency(
        8 -> Gen.choose(-30L, 30L).map(Option(_)),
        3 -> Gen.const(Option(7L)), // hot key
        2 -> Gen.const(Option.empty[Long]))
      build <- Gen.listOfN(nb, Gen.zip(keyG, Gen.choose(0L, 999L)))
      stream <- Gen.listOfN(ns, Gen.zip(keyG, Gen.choose(0L, 999L)))
      tpe <- Gen.oneOf("inner", "left_outer", "right_outer", "full_outer",
        "left_semi", "left_anti")
      hint <- Gen.oneOf("", "shuffle_hash", "merge")
    } yield (build, stream, tpe, hint)

  private def canonRows(rows: Array[org.apache.spark.sql.Row]): List[String] =
    rows.map(_.toString).sorted.toList

  property("join kernels match the row joins for any data, type, and physical plan") =
    forAll(joinGen) { case (build, stream, tpe, hint) =>
      val bdf0 = build.toDF("bk", "bv")
      val bdf = if (hint.isEmpty) bdf0 else bdf0.hint(hint)
      val sdf = stream.toDF("k", "v")
      // long keys and derived string keys share the same match structure
      val sdfS = sdf.select(concat(lit("s"), $"k").as("ks"), $"v")
      val bdfS = bdf.select(concat(lit("s"), $"bk").as("bks"), $"bv")
      def q(): (List[String], List[String]) = (
        canonRows(sdf.join(bdf, $"k" === $"bk", tpe).collect()),
        canonRows(sdfS.join(bdfS, $"ks" === $"bks", tpe).collect()))
      val on = q()
      val off = try {
        spark.conf.set("spark.graft.columnar.enabled", "false")
        q()
      } finally spark.conf.unset("spark.graft.columnar.enabled")
      Prop(on == off) :| s"tpe=$tpe hint=$hint nb=${build.size} ns=${stream.size}"
    }

  // ── grouped-agg kernels: forced flush boundaries ──
  // Tiny maxGroups makes the partial kernel flush mid-partition (multiple
  // buffer rows per key — the 100 TB high-cardinality degrade path);
  // |v| > 2^43 inputs ride the wide-value lanes; null keys form their own
  // group; only EXACT aggregates (long/decimal) are compared, so the
  // flush-order difference cannot legitimately perturb results — the
  // final merge must reassemble identical totals either way.
  private val aggGen: Gen[(List[(Option[Long], Option[Long], Option[Double])], Int)] =
    for {
      n <- Gen.choose(1, 120)
      rows <- Gen.listOfN(n, for {
        k <- Gen.frequency(
          6 -> Gen.choose(0L, 15L).map(Option(_)),
          2 -> Gen.const(Option(3L)),
          1 -> Gen.const(Option.empty[Long]))
        v <- Gen.frequency(
          8 -> Gen.choose(-100000L, 100000L).map(Option(_)),
          1 -> Gen.const(Option.empty[Long]),
          1 -> Gen.oneOf(Option(1L << 44), Option(-(1L << 43))))
        d <- Gen.frequency(
          5 -> Gen.chooseNum(-1000.0, 1000.0).map(Option(_)),
          1 -> Gen.const(Option.empty[Double]))
      } yield (k, v, d))
      maxGroups <- Gen.oneOf(1, 2, 7, 1 << 20)
    } yield (rows, maxGroups)

  property("grouped-agg kernels match the row HashAggregate under forced flushes") =
    forAll(aggGen) { case (rows, maxGroups) =>
      val df = rows.toDF("k", "v", "d")
        .withColumn("dec", ($"v" % 10000).cast("decimal(12,2)"))
      def q(): List[String] = canonRows(
        df.groupBy($"k")
          .agg(sum($"v").as("s"), count($"v").as("c"), min($"v").as("mn"),
            max($"v").as("mx"), sum($"dec").as("sdec"), avg($"dec").as("adec"),
            count(lit(1)).as("n"))
          .collect())
      val on = try {
        spark.conf.set(GraftColumnarGroupedAggExec.maxGroupsKey, maxGroups.toString)
        q()
      } finally spark.conf.unset(GraftColumnarGroupedAggExec.maxGroupsKey)
      val off = try {
        spark.conf.set("spark.graft.columnar.enabled", "false")
        q()
      } finally spark.conf.unset("spark.graft.columnar.enabled")
      Prop(on == off) :| s"maxGroups=$maxGroups n=${rows.size}"
    }

  // ── grouped in-partition sort: SortExec's order for any key mix ──
  // 1-3 hash partitions over three flags + null put 1-3 partition-key
  // values in one task (one partition holds them all); the ORDER BY
  // keys carry nulls, NaN, -0.0 and ties in random directions, and both
  // sorts spill every few rows in some cases.
  private val sortRowsGen = for {
    n <- Gen.choose(1, 300)
    rows <- Gen.listOfN(n, for {
      f <- Gen.frequency(
        3 -> Gen.oneOf("A", "N", "R").map(Option(_)),
        1 -> Gen.const(Option.empty[String]))
      x <- Gen.frequency(
        4 -> Gen.choose(-3, 3).map(i => Option(i * 0.5)),
        1 -> Gen.oneOf(Double.NaN, -0.0, 0.0).map(Option(_)),
        1 -> Gen.const(Option.empty[Double]))
      y <- Gen.frequency(
        4 -> Gen.choose(0, 5).map(Option(_)),
        1 -> Gen.const(Option.empty[Int]))
    } yield (f, x, y))
    parts <- Gen.choose(1, 3)
    xDesc <- Gen.oneOf(true, false)
    nullsFirst <- Gen.oneOf(true, false)
    spillEvery <- Gen.oneOf(0, 7, 50)
  } yield (rows, parts, xDesc, nullsFirst, spillEvery)

  property("grouped sort emits SortExec's order and exact group sizes for any key mix") =
    forAll(sortRowsGen) { case (rows, parts, xDesc, nullsFirst, spillEvery) =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.execution.{SortExec, SparkPlan}
      import org.apache.spark.sql.execution.graft.{GraftGroupedSortExec, SizedGroupIterator}
      val df = rows.zipWithIndex.map { case ((f, x, y), i) => (f, x, y, i) }
        .toDF("f", "x", "y", "id").repartition(parts, $"f")
      val child = df.queryExecution.executedPlan
      val Seq(f, x, y, _) = child.output
      val order = Seq(SortOrder(f, Ascending),
        SortOrder(x, if (xDesc) Descending else Ascending,
          if (nullsFirst) NullsFirst else NullsLast, Seq.empty),
        SortOrder(y, Descending))
      val full = RowOrdering.create(order, child.output)
      val key = RowOrdering.create(order.take(1), child.output)
      // per task: each row with the group size reported alongside it
      def tasks(p: SparkPlan): Map[Int, Seq[(InternalRow, Long)]] =
        p.execute().mapPartitionsWithIndex { (i, it) =>
          val sizes = it match { case g: SizedGroupIterator => g; case _ => null }
          it.map(r => (i, r.copy(), if (sizes == null) -1L else sizes.groupSize))
        }.collect().toSeq.groupBy(_._1).map { case (i, rs) => i -> rs.map(r => (r._2, r._3)) }
      val want = tasks(SortExec(order, global = false, child, spillEvery))
      val got = tasks(GraftGroupedSortExec(order, 1, child, spillEvery))
      def ids(rs: Seq[(InternalRow, Long)]) = rs.map(_._1.getInt(3)).sorted
      val sameRows = want.keySet == got.keySet &&
        want.forall { case (i, w) => ids(w) == ids(got(i)) }
      val sameOrder = sameRows && want.forall { case (i, w) =>
        w.zip(got(i)).forall { case ((a, _), (b, _)) => full.compare(a, b) == 0 } }
      // a counted group is one contiguous run of exactly its size that
      // holds every row of its key
      val sizesOk = got.values.forall { rs =>
        val counted = rs.zipWithIndex.filter(_._1._2 >= 0)
        counted.isEmpty || {
          val n = counted.head._1._2
          val k0 = counted.head._1._1
          counted.size == n && counted.last._2 - counted.head._2 + 1 == n &&
            rs.count(r => key.compare(r._1, k0) == 0) == n
        }
      }
      (Prop(sameRows) :| "same rows per task") && (Prop(sameOrder) :| "SortExec's order") &&
        (Prop(sizesOk) :| "group sizes") :| s"parts=$parts n=${rows.size} spill=$spillEvery"
    }

  // ── double → decimal casts and round/bround: the arithmetic fast
  // path against Spark's row-path Cast and round ──
  // Ties at the target scale (0.125, 2.5, x/8), near-ties whose decimal
  // string sits just below .5 (1.005, 2.675), 3-dp values, overflow for
  // the narrow types, ±0, NaN/±Inf and subnormals; ANSI on and off.
  private val castDoubleGen: Gen[Double] = Gen.frequency(
    4 -> Gen.chooseNum(-1e6, 1e6),
    4 -> Gen.choose(-1000000, 1000000).map(_ / 1000.0),
    2 -> Gen.choose(-100000, 100000).map(_ / 8.0),
    3 -> Gen.oneOf(0.125, -0.125, 1.005, 2.675, 0.5, 1.5, 2.5, -2.5, 0.015, 1.115,
      99999.995, 4503599627370497.0, 1e15 + 0.5, 1e7, -1e7, 1e20, 1e300, -0.0, 0.0,
      1e-310, Double.MinPositiveValue, -Double.MinPositiveValue, Double.MaxValue,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))

  property("double→decimal casts and round/bround match the row path, ANSI on and off") =
    forAll(Gen.listOfN(64, castDoubleGen)) { xs =>
      val dir = java.nio.file.Files.createTempDirectory("graft-dbldec").toString
      try {
        xs.toDF("x").coalesce(1).write.mode("overwrite").parquet(dir)
        val t = spark.read.parquet(dir)
        val rounds = Seq("round(x, 2)", "round(x, 0)", "round(x, 3)", "bround(x, 2)",
          "round(x, -1)")
        val casts = Seq("decimal(10,2)", "decimal(6,3)", "decimal(18,4)",
          "decimal(20,2)", "decimal(38,10)").map(d => s"cast(x AS $d)")
        def condition(e: Throwable): String =
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
            case st: org.apache.spark.SparkThrowable if st.getCondition != null => st.getCondition
          }.getOrElse(e.getClass.getName)
        def outcome(exprs: Seq[String]): String =
          try t.selectExpr(exprs: _*).collect()
            .map(_.toSeq.mkString("|")).mkString(",")
          catch { case scala.util.control.NonFatal(e) => "error " + condition(e) }
        def all(ansi: Boolean, columnar: Boolean): Seq[String] =
          withConf("spark.sql.ansi.enabled" -> ansi.toString,
              "spark.graft.columnar.enabled" -> columnar.toString) {
            // under ANSI one overflow must not hide another
            if (ansi) (rounds +: casts.map(Seq(_))).map(outcome)
            else Seq(outcome(rounds ++ casts))
          }
        val kernel = withConf("spark.sql.ansi.enabled" -> "false") {
          t.selectExpr(casts.head, "round(x, 2)").queryExecution.executedPlan.toString
        }.contains("GraftColumnarProject")
        Seq(true, false).map { ansi =>
          val on = all(ansi, columnar = true)
          val off = all(ansi, columnar = false)
          Prop(on == off) :| s"ansi=$ansi\n on=$on\noff=$off"
        }.reduce(_ && _) && (Prop(kernel) :| "the casts must run on the columnar kernels")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
}
