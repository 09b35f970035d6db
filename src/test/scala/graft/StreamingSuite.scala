package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, lit, session_window}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{Event, StreamingOps}

/** Drives the streaming operators through actual micro-batch execution
  * (MemoryStream source → memory sink), plus batch/stream agreement for
  * the windowed aggregation.
  */
class StreamingSuite extends GraftTestBase {
  import GraftTestBase.spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("windowedCounts: streaming micro-batches match the batch run") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(10), 1, "click", 1.0),
      Event(2, ts(20), 1, "view", 2.0),
      Event(3, ts(400), 2, "click", 3.0),
      Event(4, ts(410), 2, "click", 4.0))

    val q = StreamingOps.windowedCounts(input.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("append").start()
    try {
      input.addData(events.take(2))
      q.processAllAvailable()
      input.addData(events.drop(2))
      q.processAllAvailable()
      // watermark advanced past the first window → its two groups (one
      // per event_type) must be emitted with n=1 each
      val emitted = spark.table("wc").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
      assert(Set("click" -> 1L, "view" -> 1L).subsetOf(emitted), s"got $emitted")
    } finally q.stop()

    val batch = canon(StreamingOps.windowedCounts(
      events.toDF().withWatermark("ts", "10 minutes"), "1 hour"))
    // batch twin computes the full answer: both windows present
    assert(batch.size == 3) // (click,view in h0) grouped by type → 2 rows + h6 click row
  }

  test("runningUserTotals in update mode accumulates per user") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.runningUserTotals(input.toDF())
      .writeStream.format("memory").queryName("rt").outputMode(OutputMode.Complete).start()
    try {
      input.addData(Event(1, ts(1), 7, "c", 1.5))
      q.processAllAvailable()
      input.addData(Event(2, ts(2), 7, "c", 2.5))
      q.processAllAvailable()
      val rows = spark.table("rt").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set((7L, 2L, 4.0)), s"got $rows")
    } finally q.stop()
  }

  test("latestState: CDC apply-latest matches batch q131 logic, out-of-order safe") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // batch 2 delivers an OLDER change for (7,c) — must lose to batch 1's
    val b1 = Seq(Event(5, ts(50), 7, "c", 5.0), Event(1, ts(10), 8, "c", 1.0))
    val b2 = Seq(Event(3, ts(30), 7, "c", 3.0), Event(6, ts(60), 8, "c", 6.0),
      Event(7, ts(70), 7, "v", 7.0))
    val q = StreamingOps.latestState(input.toDS())
      .writeStream.format("memory").queryName("cdc").outputMode("update").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      // last emitted row per key is the compacted state
      val rows = spark.table("cdc").collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
      val last = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, vs) => k -> vs.maxBy(_._2)._1._2 }
      val expected = Map(
        (7L, "c") -> ((ts(50), 5L, 5.0)), // older batch-2 change lost
        (8L, "c") -> ((ts(60), 6L, 6.0)),
        (7L, "v") -> ((ts(70), 7L, 7.0)))
      assert(last == expected, s"got $last")
      // agreement with the batch compaction (q131 logic) on the same data
      val all = (b1 ++ b2).toDS()
      val batch = StreamingOps.latestState(all).collect()
        .map(r => (r.user_id, r.event_type) -> ((r.last_ts, r.last_event_id, r.last_value)))
        .toMap
      assert(batch == expected, s"batch twin diverged: $batch")
    } finally q.stop()
  }

  test("native session_window aggregation streams: closed sessions match batch q138 logic") {
    // The built-in streaming session aggregation (the operator q138
    // pins in batch): watermark closes a session once event time moves
    // past its end; closed sessions emit in append mode and state
    // evicts. Complements the custom flatMapGroupsWithState
    // sessionizer with Spark's own MergingSessions path.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "1 minute")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("w_start"), $"n_events")
    val q = agg(input.toDF())
      .writeStream.format("memory").queryName("sw").outputMode("append").start()
    try {
      // user 7: two events 10 min apart (one session), then a far-future
      // event advances the watermark past the session end → it closes
      input.addData(Event(1, ts(10), 7, "c", 1.0), Event(2, ts(20), 7, "c", 2.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(600), 9, "c", 3.0))
      q.processAllAvailable()
      val closed = spark.table("sw").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
      assert(closed == Set((7L, ts(10), 2L)), s"got $closed")
    } finally q.stop()
    // batch twin over the same rows agrees (plus the still-open session)
    val batch = agg(Seq(Event(1, ts(10), 7, "c", 1.0), Event(2, ts(20), 7, "c", 2.0),
      Event(3, ts(600), 9, "c", 3.0)).toDF()).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(batch == Set((7L, ts(10), 2L), (9L, ts(600), 1L)), s"batch got $batch")
  }

  test("foreachBatch upsert sink: versioned merge converges to the batch compaction") {
    // The production sink pattern: each micro-batch MERGEs into the
    // warehouse table. Without a MERGE-capable format here, the merge
    // is upsert-by-rewrite into a directory VERSIONED BY batchId —
    // which also gives exactly-once on replay (a retried batch
    // rewrites its own version, never double-applies).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    import org.apache.spark.sql.{DataFrame, Dataset}
    val root = java.nio.file.Files.createTempDirectory("graft-febatch").toString
    def compact(df: DataFrame): DataFrame = {
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts".desc, $"event_id".desc)
      df.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    }
    @volatile var lastVersion = -1L
    val input = MemoryStream[Event]
    val q = input.toDS().writeStream
      .foreachBatch { (batch: Dataset[Event], batchId: Long) =>
        val prev = if (batchId == 0) batch.sparkSession.emptyDataset[Event].toDF()
          else batch.sparkSession.read.parquet(s"$root/v${batchId - 1}")
        compact(prev.unionByName(batch.toDF()))
          .write.mode("overwrite").parquet(s"$root/v$batchId")
        lastVersion = batchId
      }
      .start()
    val b1 = Seq(Event(5, ts(50), 7, "c", 5.0), Event(1, ts(10), 8, "c", 1.0))
    val b2 = Seq(Event(3, ts(30), 7, "c", 3.0), Event(6, ts(60), 8, "c", 6.0))
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val merged = canon(spark.read.parquet(s"$root/v$lastVersion"))
    val batchAll = canon(compact((b1 ++ b2).toDF()))
    assert(merged == batchAll, s"stream-merged=$merged batch=$batchAll")
  }

  test("enrichStream: stream-static broadcast join matches batch, stateless") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val dim = Seq((1L, "AUTO"), (2L, "BIKE")).toDF("c_custkey", "c_mktsegment")
    val events = Seq(
      Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 2, "view", 2.0),
      Event(3, ts(3), 9, "view", 3.0)) // no dim row → left outer keeps it
    val q = StreamingOps.enrichStream(input.toDF(), dim)
      .writeStream.format("memory").queryName("enr").outputMode("append").start()
    try {
      input.addData(events.take(1)); q.processAllAvailable()
      input.addData(events.drop(1)); q.processAllAvailable()
      val got = spark.table("enr").collect().map(r =>
        (r.getAs[Long]("event_id"), Option(r.getAs[String]("c_mktsegment")))).toSet
      assert(got == Set((1L, Some("AUTO")), (2L, Some("BIKE")), (3L, None)),
        s"got $got")
      // stateless by construction: the stream-static join keeps no state
      val prog = q.lastProgress
      assert(prog == null || prog.stateOperators.isEmpty ||
        prog.stateOperators.forall(_.numRowsTotal == 0),
        "stream-static join must not hold state")
    } finally q.stop()
    // batch twin: the same transform over a batch DataFrame
    val batch = StreamingOps.enrichStream(events.toDF(), dim).collect().map(r =>
      (r.getAs[Long]("event_id"), Option(r.getAs[String]("c_mktsegment")))).toSet
    assert(batch == Set((1L, Some("AUTO")), (2L, Some("BIKE")), (3L, None)))
  }

  test("sessionize: gap splits sessions; stream emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapSeconds = 600)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // two bursts 40 min apart → first session closes when second arrives
      input.addData(
        Event(1, ts(0), 1, "c", 1.0), Event(2, ts(5), 1, "c", 2.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(45), 1, "c", 4.0))
      q.processAllAvailable()
      val closed = spark.table("sess").collect()
      assert(closed.length == 1)
      val s0 = closed.head
      assert(s0.getAs[Long]("n_events") == 2 && s0.getAs[Double]("session_value") == 3.0)

      // Event-time timeout: an unrelated user's much-later event pushes
      // the watermark past user 1's open-session deadline — the final
      // session must be emitted WITHOUT another user-1 event, proving
      // state eviction (the bounded-state contract).
      input.addData(Event(4, ts(200), 2, "c", 8.0))
      q.processAllAvailable()
      input.addData(Event(5, ts(201), 2, "c", 9.0))
      q.processAllAvailable()
      val afterTimeout = spark.table("sess").collect()
        .filter(_.getAs[Long]("user_id") == 1)
      assert(afterTimeout.length == 2,
        s"expected user 1's final session emitted by event-time timeout, got ${afterTimeout.length}")
      assert(afterTimeout.map(_.getAs[Double]("session_value")).toSet == Set(3.0, 4.0))
    } finally q.stop()
  }

  test("dedupeStream drops in-watermark duplicates and keeps distinct ids") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.dedupeStream(input.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "c", 1.0), Event(2, ts(1), 1, "c", 2.0),
        Event(1, ts(2), 1, "c", 99.0)) // duplicate id 1 within watermark
      q.processAllAvailable()
      input.addData(Event(2, ts(3), 2, "c", 98.0), Event(3, ts(4), 1, "c", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getAs[Long]("event_id")).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
      // the FIRST occurrence's value is the one kept
      val v1 = spark.table("dedup").collect().find(_.getAs[Long]("event_id") == 1).get
        .getAs[Double]("value")
      assert(v1 == 1.0)
    } finally q.stop()
  }

  test("sampleStream picks exactly the batch sample — replay-deterministic") {
    implicit val sqlCtx = spark.sqlContext
    val events = (1L to 200L).map(i => Event(i, ts(i.toInt % 60), i % 7, "c", i * 1.0))
    val input = MemoryStream[Event]
    val q = StreamingOps.sampleStream(input.toDF())
      .writeStream.format("memory").queryName("sample").outputMode("append").start()
    try {
      // two micro-batches, arbitrary split — the chosen set must not care
      input.addData(events.take(120): _*)
      q.processAllAvailable()
      input.addData(events.drop(120): _*)
      q.processAllAvailable()
      val streamed = spark.table("sample").collect()
        .map(_.getAs[Long]("event_id")).toSet
      val batch = StreamingOps.sampleStream(events.toDF()).collect()
        .map(_.getAs[Long]("event_id")).toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed.nonEmpty && streamed.size < events.size) // a real, proper sample
    } finally q.stop()
  }

  test("joinWithinWindow: stream-stream join pairs events inside the window only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val q = StreamingOps.joinWithinWindow(clicks.toDS(), views.toDS(), 600)
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      views.addData(
        Event(10, ts(0), 1, "v", 1.0),   // 5 min before click → in window
        Event(11, ts(20), 1, "v", 2.0),  // 15 min after click? no: after l_ts → out
        Event(12, ts(0), 2, "v", 3.0))   // other user
      clicks.addData(Event(1, ts(5), 1, "c", 0.0))
      q.processAllAvailable()
      val pairs = spark.table("ssj").collect()
        .map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id"))).toSet
      assert(pairs == Set((1L, 10L)), s"got $pairs")
      // same stream later: a view inside the window of a new click joins
      views.addData(Event(13, ts(30), 1, "v", 4.0))
      clicks.addData(Event(2, ts(35), 1, "c", 0.0))
      q.processAllAvailable()
      val pairs2 = spark.table("ssj").collect()
        .map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id"))).toSet
      // click 2 at 00:35 with a 10-min window reaches back to 00:25:
      // view 13 (00:30) joins, view 11 (00:20) stays out
      assert(pairs2 == Set((1L, 10L), (2L, 13L)), s"got $pairs2")
    } finally q.stop()
  }

  test("leftOuterJoinWithinWindow: matches emit eagerly, unmatched emit nulls after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val q = StreamingOps.leftOuterJoinWithinWindow(clicks.toDS(), views.toDS(), 600)
      .writeStream.format("memory").queryName("ssloj").outputMode("append").start()
    try {
      views.addData(Event(10, ts(0), 1, "v", 1.0)) // 5 min before click 1 → in window
      clicks.addData(
        Event(1, ts(5), 1, "c", 0.0),  // matched
        Event(2, ts(6), 2, "c", 0.0))  // user 2 has no view → outer null, later
      q.processAllAvailable()
      def rows() = spark.table("ssloj").collect()
        .map(r => (r.getAs[Long]("l_id"),
          if (r.isNullAt(r.fieldIndex("r_id"))) -1L else r.getAs[Long]("r_id"))).toSet
      // the match is emitted eagerly; the unmatched click is still held back
      // (a qualifying view could arrive until the right watermark passes ts(6))
      assert(rows() == Set((1L, 10L)), s"got ${rows()}")
      // advance both watermarks far past ts(6)+delays: left delay 10 min,
      // right delay 20 min → events at ts(90) put both watermarks > ts(6)
      clicks.addData(Event(98, ts(90), 9, "c", 0.0))
      views.addData(Event(99, ts(90), 9, "v", 0.0))
      q.processAllAvailable()
      assert(rows().contains((2L, -1L)), s"unmatched click not emitted: ${rows()}")
      // the matched row must not ALSO appear as an outer null
      assert(!rows().contains((1L, -1L)), s"duplicate outer emission: ${rows()}")
    } finally q.stop()
  }

  test("file-source readStream over events.parquet matches the batch window agg") {
    // Real file source end-to-end: the events table streamed through the
    // same ts normalization the batch loader applies (type-dispatched —
    // the fixture has shipped both nanos-as-long and micros), windowed,
    // written to a memory sink in complete mode.
    // file streaming sources need a DIRECTORY — stage the table file
    val stage = java.nio.file.Files.createTempDirectory("graft_stream_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      stage.resolve("events.parquet"))
    // readStream needs an explicit schema; take it from a batch read of
    // the same file so the stream sees whatever physical type the fixture
    // has, then normalize exactly as Tables.events does.
    val fileSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val rawStream = spark.readStream.schema(fileSchema).parquet(stage.toString)
    val raw = fileSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        rawStream.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        rawStream.withColumn("ts",
          $"ts".cast(org.apache.spark.sql.types.TimestampType))
      case _ => rawStream
    }
    val q = raw.groupBy(
        org.apache.spark.sql.functions.window($"ts", "6 hours").as("w"), $"event_type")
      .count()
      .writeStream.format("memory").queryName("filewc").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("filewc")
        .select($"w.start".as("w_start"), $"event_type", $"count".as("n"))
        .collect().map(_.toString).sorted.toSeq
      val batch = Tables.t(spark, sfDir, "events")
        .groupBy(org.apache.spark.sql.functions.window($"ts", "6 hours").as("w"), $"event_type")
        .count()
        .select($"w.start".as("w_start"), $"event_type", $"count".as("n"))
        .collect().map(_.toString).sorted.toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("sessionize agrees with the batch q67 logic on shared data") {
    // run the typed sessionizer in BATCH mode over sf0.001 events and
    // compare session counts with the window-based batch formulation
    val ev = Tables.t(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    val typed = StreamingOps.sessionize(ev, 1800).collect()
    val q67 = Catalog.validated.find(_.name == "q67_sessionization").get
      .run(spark, sfDir).collect()
    // q67 filters user_id < 100; restrict typed output the same way.
    // The typed sessionizer emits only CLOSED sessions — each user's
    // final session stays open in state — so per user it must produce
    // exactly q67's session count minus one.
    val typedByUser = typed.filter(_.user_id < 100)
      .groupBy(_.user_id).view.mapValues(_.length).toMap
    val q67ByUser = q67.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(q67ByUser.nonEmpty)
    q67ByUser.foreach { case (u, n) =>
      assert(typedByUser.getOrElse(u, 0) == n - 1,
        s"user $u: typed=${typedByUser.getOrElse(u, 0)} q67=$n")
    }
  }

  test("incremental LSH ingest: near-dups vs history and in-batch are rejected, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    val root = java.nio.file.Files.createTempDirectory("graft-lshingest").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nearDup = base.replace("sigma", "SIGMA") // most trigrams shared
    val distinctDoc = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    def emptyIndex = Seq.empty[(Long, String)].toDF("doc_id", "band")
    def readIndex(batchId: Long): DataFrame =
      if (batchId == 0) emptyIndex
      else spark.read.parquet(s"$root/index/v${batchId - 1}")
    @volatile var accByBatch = Map.empty[Long, Set[Long]]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (accepted, newBands) =
          StreamingOps.lshIngestBatch(batch, readIndex(batchId))
        // versioned-by-batchId rewrite = exactly-once on replay
        readIndex(batchId).unionByName(newBands)
          .write.mode("overwrite").parquet(s"$root/index/v$batchId")
        accByBatch = accByBatch.updated(batchId,
          accepted.select($"doc_id").collect().map(_.getLong(0)).toSet)
      }
      .start()
    try {
      input.addData((1L, base)); q.processAllAvailable()
      // batch 1: near-dup of batch-0's doc 1 rejected vs HISTORY;
      // 3 and 4 are identical in-batch → smaller doc_id (3) wins;
      // 5 is novel
      input.addData((2L, nearDup), (3L, distinctDoc), (4L, distinctDoc),
        (5L, base.toUpperCase)); q.processAllAvailable()
      assert(accByBatch(0) == Set(1L), s"batch0: ${accByBatch(0)}")
      assert(accByBatch(1) == Set(3L, 5L), s"batch1: ${accByBatch(1)}")
      // replay determinism: re-running batch 1 against the same prior
      // index accepts the same docs and rewrites the same version
      val b1 = Seq((2L, nearDup), (3L, distinctDoc), (4L, distinctDoc),
        (5L, base.toUpperCase)).toDF("doc_id", "text")
      val (replayAcc, _) = StreamingOps.lshIngestBatch(b1, readIndex(1))
      assert(replayAcc.select($"doc_id").collect().map(_.getLong(0)).toSet
        == Set(3L, 5L))
      // the index holds exactly the accepted docs' bands
      val indexed = spark.read.parquet(s"$root/index/v1")
        .select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(indexed == Set(1L, 3L, 5L), s"index: $indexed")
    } finally q.stop()
  }

  test("topKPerKeyStream: per-user leaderboard converges to the batch row_number twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // user 7's leaderboard changes across batches (9.0 then 12.0 arrive
    // later); value ties (5.0) break by (ts, event_id); user 8's board
    // fills to k in batch 1, and its batch-2 event (0.5, worse than all
    // three) must NOT trigger a re-emission
    val b1 = Seq(
      Event(1, ts(10), 7, "c", 5.0), Event(2, ts(20), 7, "c", 3.0),
      Event(3, ts(5), 7, "c", 5.0), Event(4, ts(30), 7, "c", 1.0),
      Event(10, ts(15), 8, "c", 2.0), Event(11, ts(25), 8, "c", 7.0),
      Event(13, ts(28), 8, "c", 3.0))
    val b2 = Seq(
      Event(5, ts(40), 7, "c", 9.0), Event(6, ts(50), 7, "c", 12.0),
      Event(12, ts(35), 8, "c", 0.5))
    val k = 3
    val q = StreamingOps.topKPerKeyStream(input.toDS(), k)
      .writeStream.format("memory").queryName("topk_lb").outputMode("update").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      import StreamingOps.{TopKEntry, TopKSnapshot}
      val snaps = spark.table("topk_lb").as[TopKSnapshot].collect()
      // updates only improve a leaderboard: they either GROW it (longer
      // list wins) or improve content at the same length (lexicographic
      // best under (value desc, ts, event_id) wins) — so each user's
      // FINAL snapshot is min by (-length, rankKey)
      def rankKey(s: TopKSnapshot): (Int, Seq[(Double, Long, Long)]) =
        (-s.top.length, s.top.map(e => (-e.value, e.tsMs, e.event_id)))
      import scala.math.Ordering.Implicits._
      val finalPerUser = snaps.groupBy(_.user_id)
        .map { case (u, ss) => u -> ss.minBy(rankKey).top }
      // batch twin on ALL events: row_number over (value desc, ts,
      // event_id) <= k
      val all = (b1 ++ b2).toDF()
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
        .orderBy($"value".desc, $"ts", $"event_id")
      val expected = all.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter($"rn" <= k).collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rows) =>
          u -> rows.sortBy(_.getAs[Int]("rn")).map(r =>
            TopKEntry(r.getAs[Long]("event_id"),
              r.getAs[java.sql.Timestamp]("ts").getTime,
              r.getAs[Double]("value"))).toSeq
        }
      assert(finalPerUser == expected, s"stream=$finalPerUser batch=$expected")
      // user 8 unchanged by batch 2 -> exactly one snapshot emitted
      assert(snaps.count(_.user_id == 8L) == 1,
        s"unchanged leaderboard must not re-emit: ${snaps.toSeq}")
    } finally q.stop()
  }

  test("rollingPerKeyStream: last-n aggregates match the batch sliding frame, ring carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val n = 3
    // in-order per user across batches: the ring must CARRY (user 7's
    // batch-2 windows span batch-1 events); user 8 exercises a window
    // still filling; values include negatives and repeats
    val b1 = Seq(
      Event(1, ts(10), 7, "c", 2.0), Event(2, ts(20), 7, "c", -1.0),
      Event(3, ts(30), 7, "c", 5.0), Event(4, ts(40), 7, "c", 5.0),
      Event(10, ts(15), 8, "c", 4.0))
    val b2 = Seq(
      Event(5, ts(50), 7, "c", 0.5), Event(6, ts(60), 7, "c", -3.0),
      Event(11, ts(55), 8, "c", 1.0))
    val q = StreamingOps.rollingPerKeyStream(input.toDS(), n)
      .writeStream.format("memory").queryName("rollw").outputMode("append").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.table("rollw").collect()
        .map(r => (r.getAs[Long]("event_id"),
          (r.getAs[Double]("roll_sum"), r.getAs[Double]("roll_min"),
            r.getAs[Long]("roll_n")))).toMap
      // batch twin: the sliding ROWS frame over ALL events — the exact
      // shape the window ring loop's O(n) kernels run on the batch side
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id").rowsBetween(-(n - 1), 0)
      val expected = (b1 ++ b2).toDF()
        .select($"event_id",
          org.apache.spark.sql.functions.sum($"value").over(w).as("s"),
          org.apache.spark.sql.functions.min($"value").over(w).as("mn"),
          org.apache.spark.sql.functions.count($"value").over(w).as("c"))
        .collect()
        .map(r => (r.getAs[Long]("event_id"),
          (r.getAs[Double]("s"), r.getAs[Double]("mn"), r.getAs[Long]("c")))).toMap
      assert(got == expected, s"stream=$got batch=$expected")
      // exactly one output row per event (append mode, no retraction)
      assert(spark.table("rollw").count() == (b1 ++ b2).size)
    } finally q.stop()
  }

  test("quotaLimitStream (transformWithState): admits <= limit per user-window, matches batch twin") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      // user 7: 4 events in hour-0 (limit 2 → first 2 by (ts,event_id)
      // admitted), 1 in hour-1; user 8: 2 in hour-0; event 9 only
      // advances the watermark. Event 4 arrives OUT OF (ts) ORDER
      // within the batch — in-batch sorting must still admit events
      // 1 and 3 (the two earliest), not arrival order.
      val b1 = Seq(
        Event(3, ts(20), 7, "c", 1.0), Event(4, ts(40), 7, "c", 1.0),
        Event(1, ts(5), 7, "c", 1.0), Event(5, ts(50), 7, "c", 1.0),
        Event(10, ts(15), 8, "c", 1.0), Event(11, ts(25), 8, "c", 1.0))
      val b2 = Seq(Event(20, ts(70), 7, "c", 1.0), Event(99, ts(4000), 9, "c", 1.0))
      val q = StreamingOps.quotaLimitStream(input.toDS(), limit = 2, windowSeconds = 3600)
        .writeStream.format("memory").queryName("quota").outputMode("append").start()
      try {
        input.addData(b1); q.processAllAvailable()
        input.addData(b2); q.processAllAvailable()
        val admitted = spark.table("quota").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
        assert(admitted == Set(
          (7L, 1L, 1L), (7L, 3L, 2L),   // hour-0 quota, earliest two by ts
          (7L, 20L, 1L),                // hour-1 window restarts the count
          (8L, 10L, 1L), (8L, 11L, 2L),
          (9L, 99L, 1L)), s"got $admitted")
      } finally q.stop()
      // batch twin: row_number over (user, window) by (ts, event_id)
      val all = (b1 ++ b2).toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id",
          org.apache.spark.sql.functions.window($"ts", "1 hour"))
        .orderBy($"ts", $"event_id")
      val twin = all
        .withColumn("n_in_window", org.apache.spark.sql.functions.row_number().over(w).cast("long"))
        .filter($"n_in_window" <= 2)
        .select($"user_id", $"event_id", $"n_in_window")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val streamed = spark.table("quota").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(twin == streamed, s"twin=$twin streamed=$streamed")
    } finally {
      oldProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}
