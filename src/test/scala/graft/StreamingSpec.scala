package graft

import graft.streaming.{EventOps, Streams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

final case class Ev(user_id: Long, ts: Timestamp, value: Double)

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def t(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  test("sessionize: crafted gaps produce known session boundaries") {
    val events = Seq(
      Ev(1, t(0), 1), Ev(1, t(10), 1), Ev(1, t(50), 1), // gap 40min → 2 sessions
      Ev(2, t(5), 1) // single event → 1 session
    ).toDS.toDF
    val got = EventOps.sessionStats(events, gapSec = 1800)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) === ((2L, 3L)))
    assert(got(2L) === ((1L, 1L)))
  }

  test("tumblingAgg buckets are epoch-aligned") {
    val events = Seq(
      Ev(1, t(0, 30), 1), Ev(1, t(4, 59), 1), // window 00:00
      Ev(1, t(5, 0), 1) // window 00:05
    ).toDS.toDF.withColumn("event_type", lit("e"))
    val got = EventOps.tumblingAgg(events, "5 minutes")
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(2)).toMap
    assert(got("2024-01-01 00:00:00.0") === 2L)
    assert(got("2024-01-01 00:05:00.0") === 1L)
  }

  test("eventStream loader guard: min(ts) lands in the fixture era, not 1970") {
    // A fixture-generation flip (nanos-LONG vs TIMESTAMP(MICROS)) must fail
    // loudly HERE at the loader, not downstream in a window/session parity
    // diff (round-7 regression: unconditional ÷1000 put micros in Jan 1970).
    val dir = SparkTestSession.sfDir
    val q = Streams.eventStream(spark, dir)
      .agg(min($"ts").as("min_ts"), max($"ts").as("max_ts"))
      .writeStream.format("memory").queryName("ts_guard").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val row = spark.table("ts_guard").collect().head
      val minYear = row.getTimestamp(0).toLocalDateTime.getYear
      assert(minYear > 2000, s"eventStream ts decoded into $minYear — wrong unit dispatch")
      // and it must agree with the batch loader exactly
      val batchRow = Tables.events(spark, dir).agg(min($"ts"), max($"ts")).collect().head
      assert(row.getTimestamp(0) === batchRow.getTimestamp(0))
      assert(row.getTimestamp(1) === batchRow.getTimestamp(1))
    } finally q.stop()
  }

  test("stateful sessionization (flatMapGroupsWithState) == batch sessionStats") {
    val dir = SparkTestSession.sfDir
    val stream = Streams.eventStream(spark, dir)
    val q = graft.streaming.StatefulSessions
      .sessionStream(spark, stream, gapSec = 1800)
      .toDF()
      .writeStream
      .format("memory")
      .queryName("stateful_out")
      .outputMode("update")
      .start()
    try {
      q.processAllAvailable()
      // update mode: last emission per user is the final state
      val streamed = spark.table("stateful_out")
        .groupBy($"user_id")
        .agg(max($"n_sessions").as("n_sessions"), max($"n_events").as("n_events"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = EventOps.sessionStats(Tables.events(spark, dir), gapSec = 1800)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join == batch, and the cross-batch match flows through the join state store (st12 twin)") {
    def th(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
    // 9 events whose ts tertiles give three clean micro-batches:
    // chunk0 = {1,2,3}, chunk1 = {4,5,6}, chunk2 = {7,8,9}. Expected
    // matches: error 4 ← click 2 (CROSS-BATCH, 50 min — must survive in
    // the right-side state store across the trigger boundary) and
    // error 6 ← click 5 (same batch, 5 min). Non-matches prove each
    // boundary: click 8 is AFTER error 7 (trailing window only), click
    // 1 is 2.5 h before error 9 (outside the 1 h window).
    val rows = Seq(
      (1L, th("00:00"), 3L, "click"),
      (2L, th("00:10"), 1L, "click"),
      (3L, th("00:20"), 5L, "view"),
      (4L, th("01:00"), 1L, "error"),
      (5L, th("01:10"), 2L, "click"),
      (6L, th("01:15"), 2L, "error"),
      (7L, th("02:00"), 4L, "error"),
      (8L, th("02:10"), 4L, "click"),
      (9L, th("02:30"), 3L, "error")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("st12_gate").toString + "/src"
    val schema = Streams.writeTsOrderedChunks(rows, "ts", dir, n = 3)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length === 3, "one file per chunk")
    // chunks are EVENT-TIME ordered (the property watermark parity needs)
    val spans = files.map(f => spark.read.parquet(f.toString)
      .agg(min(col("ts")), max(col("ts"))).head)
    for (k <- 0 until 2)
      assert(spans(k).getTimestamp(1).before(spans(k + 1).getTimestamp(0)),
        s"chunk $k overlaps chunk ${k + 1} in event time")
    assert(spark.read.parquet(dir).count() === 9, "chunks must partition the input")
    val raw = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
    val joined = Streams.intervalJoin(
      left = raw.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts")),
      right = raw.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts")),
      key = "user_id", leftTs = "err_ts", rightTs = "click_ts",
      window = "1 hour", watermark = "2 hours")
    val q = joined.select(col("err_id"), col("click_id"))
      .writeStream.format("memory").queryName("st12_gate_out")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("st12_gate_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.dropTempView("st12_gate_out")
    assert(got === Set((4L, 2L), (6L, 5L)),
      s"stream interval join diverged from the batch expectation: $got")
  }

  test("left-outer interval join emits unmatched errors exactly once, after the watermark passes them (st14 twin)") {
    def th(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
    // the st12 fixture: matched errors 4←2 (cross-batch) and 6←5; errors
    // 7 and 9 have NO click in their trailing hour (click 8 is AFTER
    // error 7; click 1 is 2.5 h before error 9) — the left-outer rows.
    // Their null emissions fire at EVICTION: a trailing sentinel batch
    // raises the watermark past every real error (it is the MIN across
    // both stream sides, so the batch carries one error + one click, on
    // users the fixture never has and that never match each other), and
    // the eviction itself runs in a NO-DATA batch after the last data
    // batch — awaited via Streams.drain (a bare processAllAvailable
    // returns before it; measured: the null rows never emitted).
    // Sentinels stay in state forever (the watermark never passes THEM)
    // and are filtered AFTER the sink: an id filter inside the
    // streaming query would be predicate-pushed through the join and
    // the watermark node to the scan, deleting the sentinel before it
    // can advance the watermark (measured: wm stuck at the real-data
    // max and zero null emissions).
    val rows = Seq(
      (1L, th("00:00"), 3L, "click"),
      (2L, th("00:10"), 1L, "click"),
      (3L, th("00:20"), 5L, "view"),
      (4L, th("01:00"), 1L, "error"),
      (5L, th("01:10"), 2L, "click"),
      (6L, th("01:15"), 2L, "error"),
      (7L, th("02:00"), 4L, "error"),
      (8L, th("02:10"), 4L, "click"),
      (9L, th("02:30"), 3L, "error")
    ).toDF("event_id", "ts", "user_id", "event_type")
    def sentinels(errHm: String, clickHm: String, base: Long) = Seq(
      (base, th(errHm), -1L, "error"),
      (base - 1L, th(clickHm), -2L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("st14_gate").toString + "/src"
    val schema = Streams.writeTsOrderedChunks(
      rows, "ts", dir, n = 3,
      finalChunks = Seq(sentinels("06:30", "06:31", -1L)))
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet")) === 4, "3 real chunks + sentinel batch")
    val raw = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
    val joined = Streams.intervalJoin(
      left = raw.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts")),
      right = raw.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts")),
      key = "user_id", leftTs = "err_ts", rightTs = "click_ts",
      window = "1 hour", watermark = "2 hours", joinType = "left_outer")
    val q = joined.select(col("err_id"), col("click_id"))
      .writeStream.format("memory").queryName("st14_gate_out")
      .outputMode("append").start()
    try Streams.drain(q)
    finally q.stop()
    val rowsOut = spark.table("st14_gate_out")
      .filter(col("err_id") >= 0).collect()
    spark.catalog.dropTempView("st14_gate_out")
    val got = rowsOut
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(got.length === got.toSet.size, s"a row emitted more than once: ${got.toSeq}")
    assert(got.toSet === Set(
      (4L, Some(2L)), (6L, Some(5L)), (7L, None), (9L, None)),
      s"left-outer stream join diverged from the batch expectation: ${got.toSeq}")
  }

  test("full-outer interval join emits unmatched rows on BOTH sides exactly once (st16 twin)") {
    def th(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
    // the st14 fixture, read under FULL outer: the two matched pairs and
    // the two unmatched errors carry over; NEW are the unmatched CLICKS —
    // click 1 (user 3 at 00:00: user 3's only error is at 02:30, whose
    // window [01:30, 02:30] starts after it) and click 8 (user 4 at
    // 02:10: user 4's error is at 02:00, a click must PRECEDE its error).
    // A right row at time T is only provably unmatched once the watermark
    // passes T + 1h (a future error at up to T + 1h could still reach
    // back), so the right-side eviction frontier is LATER than the left's
    // — the mechanic st14 never exercises. Sentinels at 06:30/06:31 push
    // the global watermark to 04:30 > 02:10 + 1h.
    val rows = Seq(
      (1L, th("00:00"), 3L, "click"),
      (2L, th("00:10"), 1L, "click"),
      (3L, th("00:20"), 5L, "view"),
      (4L, th("01:00"), 1L, "error"),
      (5L, th("01:10"), 2L, "click"),
      (6L, th("01:15"), 2L, "error"),
      (7L, th("02:00"), 4L, "error"),
      (8L, th("02:10"), 4L, "click"),
      (9L, th("02:30"), 3L, "error")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val sentinels = Seq(
      (-1L, th("06:30"), -1L, "error"),
      (-2L, th("06:31"), -2L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("st16_gate").toString + "/src"
    val schema = Streams.writeTsOrderedChunks(
      rows, "ts", dir, n = 3, finalChunks = Seq(sentinels))
    val raw = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
    val joined = Streams.intervalJoin(
      left = raw.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts")),
      right = raw.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts")),
      key = "user_id", leftTs = "err_ts", rightTs = "click_ts",
      window = "1 hour", watermark = "2 hours", joinType = "full_outer")
    Streams.withFastNoDataProgress(spark) {
      val q = joined.select(col("err_id"), col("click_id"))
        .writeStream.format("memory").queryName("st16_gate_out")
        .outputMode("append").start()
      // drain to the sentinel-implied watermark (04:30); 04:00 proves both
      // eviction frontiers (left needs > 02:30, right needs > 03:10)
      try Streams.drain(q, untilWatermark = Some(th("04:00")))
      finally q.stop()
    }
    val rowsOut = spark.table("st16_gate_out")
      .filter(coalesce(col("err_id"), lit(0L)) >= 0 &&
        coalesce(col("click_id"), lit(0L)) >= 0)
      .collect()
    spark.catalog.dropTempView("st16_gate_out")
    val got = rowsOut.map(r => (
      if (r.isNullAt(0)) None else Some(r.getLong(0)),
      if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(got.length === got.toSet.size, s"a row emitted more than once: ${got.toSeq}")
    assert(got.toSet === Set(
      (Some(4L), Some(2L)), (Some(6L), Some(5L)),
      (Some(7L), None), (Some(9L), None),
      (None, Some(1L)), (None, Some(8L))),
      s"full-outer stream join diverged from the batch expectation: ${got.toSeq}")
  }

  test("right-outer interval join == full-outer's right half (the 4th shape, mirror of st14)") {
    // completes the inner/left/full/right matrix evidence: right_outer
    // must emit every click (matched where possible) and NO unmatched
    // errors — the exact mirror of st14's left_outer on the same fixture
    def th(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
    val rows = Seq(
      (1L, th("00:00"), 3L, "click"),
      (2L, th("00:10"), 1L, "click"),
      (4L, th("01:00"), 1L, "error"),
      (5L, th("01:10"), 2L, "click"),
      (6L, th("01:15"), 2L, "error"),
      (7L, th("02:00"), 4L, "error"),
      (8L, th("02:10"), 4L, "click"),
      (9L, th("02:30"), 3L, "error")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val sentinels = Seq(
      (-1L, th("06:30"), -1L, "error"),
      (-2L, th("06:31"), -2L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("st_ro_gate").toString + "/src"
    val schema = Streams.writeTsOrderedChunks(
      rows, "ts", dir, n = 3, finalChunks = Seq(sentinels))
    val raw = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
    val joined = Streams.intervalJoin(
      left = raw.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts")),
      right = raw.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts")),
      key = "user_id", leftTs = "err_ts", rightTs = "click_ts",
      window = "1 hour", watermark = "2 hours", joinType = "right_outer")
    Streams.withFastNoDataProgress(spark) {
      val q = joined.select(col("err_id"), col("click_id"))
        .writeStream.format("memory").queryName("st_ro_gate_out")
        .outputMode("append").start()
      try Streams.drain(q, untilWatermark = Some(th("04:00")))
      finally q.stop()
    }
    val got = spark.table("st_ro_gate_out")
      .filter(coalesce(col("err_id"), lit(0L)) >= 0 &&
        coalesce(col("click_id"), lit(0L)) >= 0)
      .collect()
      .map(r => (
        if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
    spark.catalog.dropTempView("st_ro_gate_out")
    assert(got.length === got.toSet.size, s"a row emitted more than once: ${got.toSeq}")
    assert(got.toSet === Set(
      (Some(4L), Some(2L)), (Some(6L), Some(5L)),
      (None, Some(1L)), (None, Some(8L))),
      s"right-outer stream join diverged from the batch expectation: ${got.toSeq}")
  }

  test("watermark drops late rows: out-of-order micro-batches through MemoryStream (NEXT §6)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val counts = Streams.windowedCounts(
      mem.toDF().withColumn("event_type", lit("e")),
      width = "5 minutes",
      watermark = "10 minutes"
    )
    val q = counts.writeStream
      .format("memory")
      .queryName("late_out")
      .outputMode("append")
      .start()
    try {
      // batch 1: two rows in window 00:00 plus one at 00:30 — after this
      // batch the watermark advances to 00:30 - 10min = 00:20
      mem.addData(Ev(1, t(0), 1.0), Ev(1, t(1), 1.0), Ev(1, t(30), 1.0))
      q.processAllAvailable()
      // batch 2: a LATE row for window 00:00 (event time 00:02 is behind
      // the 00:20 watermark) — must be dropped, not counted
      mem.addData(Ev(1, t(2), 1.0))
      q.processAllAvailable()
      // batch 3: advance the watermark far enough to flush all windows
      mem.addData(Ev(1, t(60), 1.0))
      q.processAllAvailable()
      val byWindow = spark.table("late_out")
        .collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(2))
        .toMap
      // the 00:00 window closed with 2 rows — the late third row was
      // dropped by the watermark (with no watermark it would be 3)
      assert(byWindow("2024-01-01 00:00:00.0") === 2L)
      // append mode emits each finalized window exactly once
      assert(spark.table("late_out").count() ===
        spark.table("late_out").select($"w_start").distinct().count())
    } finally q.stop()
  }

  test("streaming simhash near-dup pairs == batch simHashNearDups across micro-batches (d03 twin)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val fixture = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val batch = Dedup
      .simHashNearDups(docs, "text", "doc_id", maxHamming = 10)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture produced no near pairs — test is vacuous")
    val mem = MemoryStream[(Long, String)]
    val pairs = graft.streaming.StreamingDedup.simHashNearDupStream(
      spark,
      mem.toDF().toDF("doc_id", "text"),
      "text",
      "doc_id",
      maxHamming = 10
    )
    val q = pairs.toDF().writeStream
      .format("memory")
      .queryName("neardup_out")
      .outputMode("append")
      .start()
    try {
      // split the corpus into three micro-batches: pairs must be found
      // across batch boundaries (state carries earlier members)
      fixture.grouped(math.max(1, fixture.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamedRows = spark.table("neardup_out")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val streamed = streamedRows.toSet
      assert(streamed === batch)
      // lowest-matching-chunk emission: exactly once, no downstream dedup
      assert(streamedRows.length === streamed.size, "pair emitted more than once")
      // replaying a whole batch must emit nothing new (at-least-once sources)
      mem.addData(fixture.take(fixture.length / 3).toIndexedSeq)
      q.processAllAvailable()
      assert(spark.table("neardup_out").count() === streamedRows.length.toLong)
    } finally q.stop()
  }

  test("per-batch decontamination via foreachBatch == batch decontaminate") {
    // stateless batch operators compose into streams through foreachBatch
    // with no new code: each micro-batch is scrubbed against the static
    // benchmark gram set (a broadcast stream-static pattern), and the
    // union of scrubbed batches equals the batch-mode result because the
    // decision is per-doc
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Decontaminate
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val bench = docs.filter($"doc_id" % 10 === 0)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val want = Decontaminate
      .decontaminate(corpus, "text", "doc_id", bench, "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want.size < corpus.count(), "fixture yields no contamination — vacuous")
    val fixture = corpus.select($"doc_id", $"text").as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set[Long]()
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= Decontaminate
          .decontaminate(batch, "text", "doc_id", bench, "text", n = 8)
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }
      .start()
    try {
      fixture.grouped(math.max(1, fixture.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      assert(got.toSet === want)
    } finally q.stop()
  }

  test("foreachBatch + persisted index: probe-then-append micro-batches == batch pairs") {
    // the production streaming-dedup shape for corpora too large for
    // in-memory state: each micro-batch dedups against the persisted
    // band index (zero corpus-side Exchange) and is then folded in, so
    // the index grows with the stream. The union of per-batch pair
    // emissions must equal the batch pair set over everything seen.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val fixture = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val batchPairs = Dedup
      .minHashNearDups(docs, "text", "doc_id", threshold = 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.nonEmpty, "fixture produced no near pairs — test is vacuous")
    // seed an EMPTY index so the first micro-batch starts the corpus
    val idx = Dedup.writeMinHashIndex(
      docs.limit(0), "text", "doc_id", "stream_inc_idx", buckets = 4)
    val got = scala.collection.mutable.Set[(Long, Long)]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = batch.localCheckpoint(true)
        val pairs = Dedup.minHashNearDupsIncremental(delta, "text", "doc_id", 0.4, idx)
        got ++= pairs.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        Dedup.appendToMinHashIndex(delta, "text", "doc_id", idx)
        graft.CacheUtil.release(pairs)
        graft.CacheUtil.release(delta)
        ()
      }
      .start()
    try {
      fixture.grouped(math.max(1, fixture.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      assert(got.toSet === batchPairs,
        s"streamed ${got.size} vs batch ${batchPairs.size}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS stream_inc_idx_bands")
      spark.sql("DROP TABLE IF EXISTS stream_inc_idx_shingles")
    }
  }

  test("foreachBatch + persisted passage index: each micro-batch profiles against everything seen") {
    // ingest-time boilerplate profiling for unbounded corpora: every
    // micro-batch is scored against the persisted fingerprint index
    // (zero corpus-side Exchange) and folded in. Unlike pair emission,
    // a profile is RELATIVE to what has been seen — so the contract is
    // per-batch: batch k's profile == batch passageDupFraction over
    // chunks 1..k restricted to chunk k's ids.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Passages
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val fixture = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val k = 8
    val idx = Passages.writePassageIndex(
      docs.limit(0), "text", "doc_id", "stream_pinc_idx", windowTokens = k)
    val perBatch = scala.collection.mutable.Buffer[Map[Long, (Long, Long, Double)]]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = batch.localCheckpoint(true)
        val prof = Passages.passageDupFractionIncremental(delta, "text", "doc_id", idx)
        perBatch += prof.collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
          .toMap
        Passages.appendToPassageIndex(delta, "text", "doc_id", idx)
        graft.CacheUtil.release(prof)
        graft.CacheUtil.release(delta)
        ()
      }
      .start()
    try {
      val chunks = fixture.grouped(math.max(1, fixture.length / 3 + 1)).toSeq
      var seen = Seq.empty[(Long, String)]
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        seen = seen ++ chunk
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
        val ids = chunk.map(_._1).toSet
        val expectedDf = Passages
          .passageDupFraction(seen.toDF("doc_id", "text"), "text", "doc_id", k)
        val expected = expectedDf
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
          .toMap
          .filter { case (id, _) => ids.contains(id) }
        graft.CacheUtil.release(expectedDf)
        assert(perBatch(i) === expected, s"batch $i profile diverged")
      }
      assert(perBatch.exists(_.values.exists(_._2 > 0)), "no dups seen — vacuous")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS stream_pinc_idx_fps")
    }
  }

  test("foreachBatch + persisted line catalogue: each micro-batch cleans against everything seen") {
    // ingest-time boilerplate-line removal for unbounded corpora: each
    // micro-batch is cleaned against the persisted per-fp doc counts
    // (zero corpus-side Exchange) and its own counts, then folded in.
    // Cleaning is RELATIVE to what has been seen, and already-emitted
    // documents are never revisited (the ingest-time contract): batch
    // k's cleaned text == batch dropDuplicatedLines over chunks 1..k
    // restricted to chunk k's ids.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Lines
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    // fixture docs are unique single-liners — stream echoes AFTER the
    // originals so later batches contain lines the catalogue has seen
    val originals = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val echoes = originals.take(40).map { case (id, t) => (id + 500000L, t) }
    val fixture = originals ++ echoes
    val idx = Lines.writeLineIndex(
      docs.limit(0), "text", "doc_id", "stream_linc_idx", buckets = 4)
    val perBatch = scala.collection.mutable.Buffer[Map[Long, String]]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = batch.localCheckpoint(true)
        val cleaned = Lines.dropDuplicatedLinesIncremental(delta, "text", "doc_id", idx)
        perBatch += cleaned.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        Lines.appendToLineIndex(delta, "text", "doc_id", idx)
        graft.CacheUtil.release(cleaned)
        graft.CacheUtil.release(delta)
        ()
      }
      .start()
    try {
      val chunks = fixture.grouped(math.max(1, fixture.length / 3 + 1)).toSeq
      var seen = Seq.empty[(Long, String)]
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        seen = seen ++ chunk
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
        val ids = chunk.map(_._1).toSet
        val expected = Lines
          .dropDuplicatedLines(seen.toDF("doc_id", "text"), "text", "doc_id")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
          .filter { case (id, _) => ids.contains(id) }
        assert(perBatch(i) === expected, s"batch $i cleaned text diverged")
      }
      // non-vacuity: the echoed docs' duplicated lines must actually drop
      assert(perBatch.last.exists { case (id, t) => id >= 500000L && t.isEmpty },
        "no echoed doc was cleaned — test is vacuous")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS stream_linc_idx_linefps")
    }
  }

  test("foreachBatch + written IVF index: growing semantic dedup == frozen-centroid batch over everything seen") {
    // the semantic member of the growing-index ingest family: each
    // micro-batch of embeddings is semantically deduped against the
    // WRITTEN IVF lists as they stood (frozen corpus-trained centroids)
    // and folded in via semDedupPairsIncrementalFold. The union of
    // per-batch emissions must equal the batch within-cluster pair set
    // over corpus ∪ stream under the same centroids, restricted to
    // stream-touching pairs.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select($"vec_id", $"embedding")
    // two echo generations per base with DIFFERENT %3 phases (1e5 % 3 =
    // 2, 2e5 % 3 = 1), so a base's echoes always land in different
    // micro-batches and the later one can only pair against the earlier
    // through the APPENDED lists — the growing-index phenomenon
    def echo(offset: Long) =
      emb.select(($"vec_id" + offset).as("vec_id"), $"embedding")
    val stream = echo(100000L).unionByName(echo(200000L))
      .as[(Long, Array[Float])].collect()
    val chunks = (0 to 2).map(k => stream.filter(_._1 % 3 == k))
    val built = Similarity.ivfBuild(emb, "embedding", "vec_id", nCentroids = 4)
    val dir = java.nio.file.Files.createTempDirectory("stream_sem_idx").toString
    Similarity.ivfWrite(built, dir)
    val got = scala.collection.mutable.Set[(Long, Long, Double)]()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = batch.localCheckpoint(true)
        val pairs = Similarity.semDedupPairsIncrementalFold(
          spark, delta, dir, "embedding", "vec_id", threshold = 0.9)
        got ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        graft.CacheUtil.release(pairs)
        graft.CacheUtil.release(delta)
        ()
      }
      .start()
    try {
      chunks.foreach { c =>
        mem.addData(c.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val all = emb.unionByName(echo(100000L)).unionByName(echo(200000L))
    val ref = Similarity.IvfIndex(
      Similarity.ivfAssign(all, "embedding", built.centroids),
      built.centroids, "embedding", "vec_id")
    val batchPairs = Similarity.semDedupPairsFromIndex(ref, threshold = 0.9)
    val want = batchPairs
      .filter($"id_b" >= 100000L) // pairs touching the stream (echo ids)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.CacheUtil.release(batchPairs)
    graft.CacheUtil.release(built.assigned)
    assert(got.toSet === want, s"streamed ${got.size} vs batch ${want.size}")
    // the cross-batch echo-echo pairs must be present (identical vectors
    // always share a cluster, so every base contributes one)
    assert(got.exists { case (a, b, _) => a >= 100000L && a < 200000L && b >= 200000L },
      "no cross-batch echo pair — growing-index leg vacuous")
  }

  test("streaming 128-bit simhash pairs == batch simHashNearDups128 across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, SparkTestSession.sfDir)
    val fixture = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val h = 20
    val batchDf = Dedup.simHashNearDups128(docs, "text", "doc_id", maxHamming = h)
    val batch = batchDf.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CacheUtil.release(batchDf)
    assert(batch.nonEmpty, "fixture produced no near pairs — test is vacuous")
    val mem = MemoryStream[(Long, String)]
    val pairs = graft.streaming.StreamingDedup.simHashNearDup128Stream(
      spark, mem.toDF().toDF("doc_id", "text"), "text", "doc_id", maxHamming = h)
    val q = pairs.toDF().writeStream
      .format("memory")
      .queryName("neardup128_out")
      .outputMode("append")
      .start()
    try {
      fixture.grouped(math.max(1, fixture.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamedRows = spark.table("neardup128_out")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val streamed = streamedRows.toSet
      assert(streamed === batch)
      assert(streamedRows.length === streamed.size, "pair emitted more than once")
      // replay a whole batch: at-least-once sources must not re-emit
      mem.addData(fixture.take(fixture.length / 3).toIndexedSeq)
      q.processAllAvailable()
      assert(spark.table("neardup128_out").count() === streamedRows.length.toLong)
    } finally q.stop()
  }

  test("streaming simhash dedup under an ACTIVE cap: batch semantics, replay-idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 6 identical docs arriving in id order: with maxBucket=3 only ids
    // 1..3 enter state — pairs are exactly the batch cap's 3·2/2 = 3, and
    // docs 4..6 (past the cap) emit NOTHING, even when redelivered (they
    // left no trace in state, so emission for them could not be
    // deduplicated). NB: exact batch parity requires ascending arrival —
    // out-of-order ids can emit pairs against members that later evict
    // (documented superset behavior, not exercised here)
    val docs = (1L to 6L).map(i => (i, "boilerplate header repeated"))
    val mem = MemoryStream[(Long, String)]
    val pairs = graft.streaming.StreamingDedup.simHashNearDupStream(
      spark,
      mem.toDF().toDF("doc_id", "text"),
      "text",
      "doc_id",
      maxHamming = 3,
      maxBucket = 3
    )
    val q = pairs.toDF().writeStream
      .format("memory")
      .queryName("capped_out")
      .outputMode("append")
      .start()
    try {
      mem.addData(docs.take(4))
      q.processAllAvailable()
      mem.addData(docs.drop(4))
      q.processAllAvailable()
      val got = spark.table("capped_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
      // redeliver everything, including the capped-out ids
      mem.addData(docs)
      q.processAllAvailable()
      assert(spark.table("capped_out").count() === 3L, "replay emitted duplicates")
    } finally q.stop()
  }

  test("streaming simhash dedup, ACTIVE cap + out-of-order ids: documented superset, still exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // identical docs arriving high-ids-first with maxBucket=3: batch 1
    // fills state [4,5,6] and emits its 3 pairs; each of 1,2,3 then
    // enters, emits against the 3 members it finds, and evicts the
    // highest — 12 distinct pairs total, a SUPERSET of the batch cap's 3
    // (pairs among final members {1,2,3}). This pins the documented
    // semantics: emitted pairs can involve later-evicted members (no
    // retraction in append mode), but every pair appears exactly once.
    // Both fingerprint widths run the one bucket transition.
    val streams = Seq[(String, DataFrame => org.apache.spark.sql.Dataset[graft.streaming.StreamPair])](
      "ooo_out" -> (graft.streaming.StreamingDedup.simHashNearDupStream(
        spark, _, "text", "doc_id", maxHamming = 3, maxBucket = 3)),
      "ooo128_out" -> (graft.streaming.StreamingDedup.simHashNearDup128Stream(
        spark, _, "text", "doc_id", maxHamming = 3, maxBucket = 3)))
    for ((name, stream) <- streams) {
      val mem = MemoryStream[(Long, String)]
      val q = stream(mem.toDF().toDF("doc_id", "text")).toDF().writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
      try {
        mem.addData(Seq(4L, 5L, 6L).map(i => (i, "boilerplate header repeated")))
        q.processAllAvailable()
        mem.addData(Seq(1L, 2L, 3L).map(i => (i, "boilerplate header repeated")))
        q.processAllAvailable()
        val got = spark.table(name)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(got.length === got.toSet.size, s"$name: pair emitted more than once")
        assert(got.length === 12, s"$name: expected the documented superset of 12, got ${got.sorted.toSeq}")
        // the batch cap's pairs (among the final lowest ids) are included
        assert(Set((1L, 2L), (1L, 3L), (2L, 3L)).subsetOf(got.toSet), name)
      } finally q.stop()
    }
  }

  test("streaming minhash dedup: planted near-dup found across micro-batches, exactly-once, replay-safe (d02 twin)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // near-identical long docs (one token differs → high Jaccard) planted
    // among unrelated docs; the pair members arrive in DIFFERENT batches
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs1 = Seq(
      (1L, base),
      (10L, "completely different content about other things entirely")
    )
    val docs2 = Seq(
      (2L, base.replace("tok40", "tok40x")),
      (11L, "yet another unrelated document with its own words")
    )
    val mem = MemoryStream[(Long, String)]
    val pairs = graft.streaming.StreamingDedup.minHashNearDupStream(
      spark,
      mem.toDF().toDF("doc_id", "text"),
      "text",
      "doc_id",
      threshold = 0.5
    )
    val q = pairs.toDF().writeStream
      .format("memory")
      .queryName("mh_out")
      .outputMode("append")
      .start()
    try {
      mem.addData(docs1)
      q.processAllAvailable()
      mem.addData(docs2)
      q.processAllAvailable()
      val got = spark.table("mh_out")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // the planted pair, exactly once (identical docs collide in MANY
      // bands — lowest-matching-band emission must dedupe them), and the
      // estimate clears the threshold
      assert(got.toSeq === Seq((1L, 2L)), s"got ${got.toSeq}")
      val est = spark.table("mh_out").collect().head.getDouble(2)
      assert(est >= 0.5 && est <= 1.0)
      // full replay emits nothing new
      mem.addData(docs1 ++ docs2)
      q.processAllAvailable()
      assert(spark.table("mh_out").count() === 1L)
    } finally q.stop()
  }

  test("streaming exact dedup emits one row per distinct text, bounded state (d01 twin)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val deduped = graft.streaming.StreamingDedup.exactDedupStream(
      mem.toDF().withColumn("text", concat(lit("doc-"), $"value".cast("int"))),
      "text",
      "ts",
      watermark = "10 minutes"
    )
    val q = deduped.writeStream
      .format("memory")
      .queryName("exact_out")
      .outputMode("append")
      .start()
    try {
      // 3 distinct texts, each duplicated across two micro-batches
      mem.addData(Ev(1, t(0), 1.0), Ev(2, t(1), 2.0), Ev(3, t(2), 1.0))
      q.processAllAvailable()
      mem.addData(Ev(4, t(3), 2.0), Ev(5, t(4), 3.0))
      q.processAllAvailable()
      val out = spark.table("exact_out").select($"text").collect().map(_.getString(0))
      assert(out.length === 3)
      assert(out.toSet === Set("doc-1", "doc-2", "doc-3"))
    } finally q.stop()
  }

  test("streaming dedup suite runs under the RocksDB state store (100 TB/day state path)") {
    // the default HDFS-backed store keeps every version's state in
    // executor memory — at 100 TB/day fingerprint volume it is the first
    // thing to fall over. RocksDB spills to local disk with incremental
    // checkpointing; the dedup state transitions must behave identically
    // under it. Same assertions as the per-provider twins above, under
    // the swapped provider.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(
      key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try {
      // simhash twin: cross-batch pair, exactly once, replay-safe
      val mem = MemoryStream[(Long, String)]
      val pairs = graft.streaming.StreamingDedup.simHashNearDupStream(
        spark, mem.toDF().toDF("doc_id", "text"), "text", "doc_id", maxHamming = 3)
      val q = pairs.toDF().writeStream
        .format("memory").queryName("rocks_out").outputMode("append").start()
      try {
        mem.addData(Seq((1L, "alpha beta gamma delta epsilon zeta")))
        q.processAllAvailable()
        mem.addData(Seq((2L, "alpha beta gamma delta epsilon zeta")))
        q.processAllAvailable()
        val got = spark.table("rocks_out").collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(got.toSeq === Seq((1L, 2L)))
        mem.addData(Seq((1L, "alpha beta gamma delta epsilon zeta")))
        q.processAllAvailable()
        assert(spark.table("rocks_out").count() === 1L, "replay emitted duplicates")
        // prove the query really ran on RocksDB, not a silently-ignored
        // conf: the provider surfaces rocksdb* custom metrics
        val ops = q.lastProgress.stateOperators
        assert(ops.nonEmpty, "no state operator in progress — test is vacuous")
        val metricKeys = ops.flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
        assert(
          metricKeys.exists(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb metrics — provider not in effect: ${metricKeys.mkString(",")}"
        )
      } finally q.stop()
      // exact-dedup twin under RocksDB (watermark-evicted fingerprints)
      val mem2 = MemoryStream[Ev]
      val deduped = graft.streaming.StreamingDedup.exactDedupStream(
        mem2.toDF().withColumn("text", concat(lit("doc-"), $"value".cast("int"))),
        "text", "ts", watermark = "10 minutes")
      val q2 = deduped.writeStream
        .format("memory").queryName("rocks_exact_out").outputMode("append").start()
      try {
        mem2.addData(Ev(1, t(0), 1.0), Ev(2, t(1), 2.0))
        q2.processAllAvailable()
        mem2.addData(Ev(3, t(2), 1.0), Ev(4, t(3), 3.0))
        q2.processAllAvailable()
        val out = spark.table("rocks_exact_out").select($"text").collect().map(_.getString(0))
        assert(out.toSet === Set("doc-1", "doc-2", "doc-3"))
      } finally q2.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("streaming windowed counts == batch windowed counts on the fixture") {
    val dir = SparkTestSession.sfDir
    val stream = Streams.eventStream(spark, dir)
    val q = Streams.runToMemory(
      Streams.windowedCounts(stream, "5 minutes", "10 minutes"),
      "stream_out"
    )
    try {
      val streamed = spark.table("stream_out")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = EventOps.tumblingAgg(Tables.events(spark, dir), "5 minutes")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  // ------------------- mid-batch replay idempotence (fold family) -------------------
  // The at-least-once hole st07's clean restart cannot reach: a crash
  // AFTER a fold appended its delta but BEFORE the sink/offset commit
  // makes Structured Streaming REPLAY the batch. Each gate runs a fold
  // to completion, re-runs the SAME delta (the replay), and asserts
  // (a) the index did not grow twice and (b) the union of per-attempt
  // emissions equals attempt 1's — the replay emits NOTHING new, so no
  // duplicate rows reach a sink. A fresh second delta then proves the
  // index still ingests normally.

  private def rpTexts = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "one two three four five six seven eight nine ten")

  test("mid-batch replay idempotence: minhash fold (index unchanged, replay emits nothing)") {
    import graft.operators.Dedup
    val (base, other) = rpTexts
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val delta = Seq((10L, base), (11L, base),
      (12L, "completely fresh words nothing shared here at all right now")
    ).toDF("doc_id", "text").localCheckpoint(true)
    val idx = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "rp_mh", buckets = 4)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
        val s = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        graft.CacheUtil.release(df); s
      }
      val out1 = pairs(Dedup.minHashNearDupsIncrementalFold(delta, "text", "doc_id", 0.4, idx))
      assert(out1.toSet === Set((1L, 10L), (1L, 11L), (10L, 11L)))
      val bandRows = spark.table(idx.bandTable).count()
      val shRows = spark.table(idx.shingleTable).count()
      // the replay: same delta, fold again
      val out2 = pairs(Dedup.minHashNearDupsIncrementalFold(delta, "text", "doc_id", 0.4, idx))
      assert(out2.isEmpty, s"replay re-emitted $out2")
      assert(spark.table(idx.bandTable).count() === bandRows, "band table grew on replay")
      assert(spark.table(idx.shingleTable).count() === shRows, "shingle table grew on replay")
      val union = out1 ++ out2
      assert(union.distinct.size === union.size, "duplicate rows in the emission union")
      // a genuinely new delta still ingests and pairs against everything
      val d2 = Seq((20L, base)).toDF("doc_id", "text").localCheckpoint(true)
      val out3 = pairs(Dedup.minHashNearDupsIncrementalFold(d2, "text", "doc_id", 0.4, idx))
      assert(out3.toSet === Set((1L, 20L), (10L, 20L), (11L, 20L)))
      graft.CacheUtil.release(d2)
    } finally {
      graft.CacheUtil.release(delta)
      Seq(idx.bandTable, idx.shingleTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("torn-append replay: a batch whose ids are PARTIALLY folded heals per-id (minhash + sink)") {
    import graft.operators.{Dedup, IdempotentSink}
    val (base, other) = rpTexts
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val half = Seq((10L, base)).toDF("doc_id", "text").localCheckpoint(true)
    val full = Seq((10L, base), (11L, base)).toDF("doc_id", "text").localCheckpoint(true)
    // index A gets the torn state; index B the clean single fold — the
    // healed A must be observationally identical to B
    val idxA = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "rp_torn_a", buckets = 4)
    val idxB = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "rp_torn_b", buckets = 4)
    val dir = java.nio.file.Files.createTempDirectory("rp_torn").toString
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
      val s = df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      graft.CacheUtil.release(df); s
    }
    try {
      // manufacture the torn state: id 10's rows committed to BOTH
      // tables, id 11's to neither — per-id this is exactly the state a
      // torn job commit of the full batch leaves (every ReplaySafe
      // consumer is per-id, so folding the half-batch is state-identical)
      graft.CacheUtil.release(
        Dedup.minHashNearDupsIncrementalFold(half, "text", "doc_id", 0.4, idxA))
      // the at-least-once retry of the FULL batch, sink attached
      val healed = pairs(Dedup.minHashNearDupsIncrementalFold(
        full, "text", "doc_id", 0.4, idxA,
        sink = Some(IdempotentSink.batchWriter(dir, 7L))))
      // only pairs touching the unseen id survive; the seen id's pairs
      // are suppressed (the documented torn-LEDGER emission cost — the
      // sink is how callers avoid losing them for good)
      assert(healed === Seq((1L, 11L), (10L, 11L)))
      // per-id healing: every id stored exactly once per table key
      assert(spark.table(idxA.shingleTable).groupBy($"_sid")
        .count().filter($"count" > 1).count() === 0L, "duplicate shingle rows")
      assert(spark.table(idxA.bandTable).groupBy($"_id", $"_band")
        .count().filter($"count" > 1).count() === 0L, "duplicate band rows")
      // healed index == clean-single-fold index, observationally
      graft.CacheUtil.release(
        Dedup.minHashNearDupsIncrementalFold(full, "text", "doc_id", 0.4, idxB))
      val d2 = Seq((20L, base)).toDF("doc_id", "text").localCheckpoint(true)
      val probeA = pairs(Dedup.minHashNearDupsIncremental(d2, "text", "doc_id", 0.4, idxA))
      val probeB = pairs(Dedup.minHashNearDupsIncremental(d2, "text", "doc_id", 0.4, idxB))
      assert(probeA === probeB, "healed index diverged from a clean fold")
      assert(probeA === Seq((1L, 20L), (10L, 20L), (11L, 20L)))
      graft.CacheUtil.release(d2)
      // the sink store holds exactly the retry's emissions
      assert(IdempotentSink.committedBatches(spark, dir) === Seq(7L))
      val stored = IdempotentSink.read(spark, dir)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(stored === healed, "sink store diverged from the retry's emissions")
    } finally {
      graft.CacheUtil.release(half)
      graft.CacheUtil.release(full)
      Seq(idxA.bandTable, idxA.shingleTable, idxB.bandTable, idxB.shingleTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("torn-append replay heals WITHIN one id: minhash bands, simhash chunks, LSH bands, passage windows") {
    // the tear the per-id gate above cannot reach: a torn job commit
    // lands INSIDE one doc's rows (a doc's band/chunk rows span up to
    // `buckets` files), so the id reads "seen" with rows missing — the
    // fold's row-healed append (IndexFold) must complete exactly the
    // absent rows, converging every table to its clean-fold twin's row set
    import graft.operators.{Dedup, Passages, Similarity}
    val (base, other) = rpTexts
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.CacheUtil.release(df); s
    }

    // ---- minhash: id 10's EVEN band rows committed, odd bands + ALL
    // shingles missing (crash mid band-append, before the shingle job)
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val full = Seq((10L, base), (11L, base)).toDF("doc_id", "text").localCheckpoint(true)
    val mhA = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "rpw_mh_a", buckets = 4)
    val mhB = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "rpw_mh_b", buckets = 4)
    try {
      graft.CacheUtil.release(
        Dedup.minHashNearDupsIncrementalFold(full, "text", "doc_id", 0.4, mhB))
      val torn = spark.table(mhB.bandTable).filter($"_id" === 10L && $"_band" % 2 === 0)
      val tornN = torn.count()
      val fullN = spark.table(mhB.bandTable).filter($"_id" === 10L).count()
      assert(tornN > 0 && tornN < fullN, "fixture tear is not a proper within-id subset")
      Dedup.writeBucketedTable(torn, mhA.bandTable, 4, Seq("_band", "_bucket"),
        org.apache.spark.sql.SaveMode.Append)
      // the at-least-once retry: the shingle LEDGER has neither id, so
      // nothing was ever delivered and ALL pairs re-emit
      val healed = pairs(Dedup.minHashNearDupsIncrementalFold(full, "text", "doc_id", 0.4, mhA))
      assert(healed === Set((1L, 10L), (1L, 11L), (10L, 11L)))
      assert(spark.table(mhA.bandTable).groupBy($"_id", $"_band")
        .count().filter($"count" > 1).count() === 0L, "duplicate band rows after heal")
      def bandSet(t: String) = spark.table(t).select("_id", "_band", "_bucket")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      assert(bandSet(mhA.bandTable) === bandSet(mhB.bandTable),
        "healed band table diverged from the clean fold's")
      val d2 = Seq((20L, base)).toDF("doc_id", "text").localCheckpoint(true)
      assert(pairs(Dedup.minHashNearDupsIncremental(d2, "text", "doc_id", 0.4, mhA))
        === pairs(Dedup.minHashNearDupsIncremental(d2, "text", "doc_id", 0.4, mhB)),
        "healed index probes diverged")
      graft.CacheUtil.release(d2)
    } finally {
      Seq(mhA.bandTable, mhA.shingleTable, mhB.bandTable, mhB.shingleTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }

    // ---- simhash64: id 10's EVEN chunk rows committed (the chunk
    // table is BOTH index and ledger, so 10's never-delivered pairs are
    // suppressed — the documented torn-LEDGER cost the sink covers —
    // but the TABLE must still converge)
    val s64A = Dedup.writeSimHashIndex(corpus, "text", "doc_id", "rpw_s64_a", buckets = 4)
    val s64B = Dedup.writeSimHashIndex(corpus, "text", "doc_id", "rpw_s64_b", buckets = 4)
    try {
      graft.CacheUtil.release(
        Dedup.simHashNearDupsIncrementalFold(full, "text", "doc_id", s64B))
      val torn = spark.table(s64B.chunkTable).filter($"_id" === 10L && $"_chunk" % 2 === 0)
      val tornN = torn.count()
      val fullN = spark.table(s64B.chunkTable).filter($"_id" === 10L).count()
      assert(tornN > 0 && tornN < fullN, "simhash tear is not a proper within-id subset")
      Dedup.writeBucketedTable(torn, s64A.chunkTable, 4, Seq("_chunk", "_val"),
        org.apache.spark.sql.SaveMode.Append)
      val healed = pairs(Dedup.simHashNearDupsIncrementalFold(full, "text", "doc_id", s64A))
      assert(healed === Set((1L, 11L), (10L, 11L)),
        "replay must emit exactly the pairs touching the unseen id")
      def chunkSet(t: String) = spark.table(t).select("_id", "_chunk", "_val")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      assert(chunkSet(s64A.chunkTable) === chunkSet(s64B.chunkTable),
        "healed chunk table diverged from the clean fold's")
    } finally {
      Seq(s64A.chunkTable, s64B.chunkTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }

    // ---- vector-LSH: id 10's _tbl=0 band row committed, _tbl=1 + the
    // vec row missing (the vec LEDGER reads "unseen", so the pair
    // re-emits while the band table heals row-level)
    def vecRow(id: Long, x: Float) = (id, Array(x, 1f, 0.5f, -0.25f))
    val vCorpus = Seq(vecRow(1L, 1f), vecRow(2L, -8f)).toDF("vec_id", "embedding")
    val vFull = Seq(vecRow(10L, 1f)).toDF("vec_id", "embedding").localCheckpoint(true)
    val vA = Similarity.writeLshIndex(
      vCorpus, "embedding", "vec_id", "rpw_lsh_a", nPlanes = 4, dim = 4, nTables = 2, buckets = 4)
    val vB = Similarity.writeLshIndex(
      vCorpus, "embedding", "vec_id", "rpw_lsh_b", nPlanes = 4, dim = 4, nTables = 2, buckets = 4)
    try {
      graft.CacheUtil.release(
        Similarity.lshNearDupsIncrementalFold(vFull, "embedding", "vec_id", 0.95, vB))
      val torn = spark.table(vB.bandTable).filter($"_id" === 10L && $"_tbl" === 0)
      assert(torn.count() === 1L)
      Dedup.writeBucketedTable(torn, vA.bandTable, 4, Seq("_tbl", "_sig"),
        org.apache.spark.sql.SaveMode.Append)
      val healed = pairs(Similarity.lshNearDupsIncrementalFold(vFull, "embedding", "vec_id", 0.95, vA))
      assert(healed === Set((1L, 10L)), "vec ledger reads unseen — the pair must re-emit")
      def lshSet(t: String) = spark.table(t).select("_id", "_tbl", "_sig")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      assert(lshSet(vA.bandTable) === lshSet(vB.bandTable),
        "healed LSH band table diverged from the clean fold's")
      assert(spark.table(vA.vecTable).count() === spark.table(vB.vecTable).count())
    } finally {
      graft.CacheUtil.release(vFull)
      Seq(vA.bandTable, vA.vecTable, vB.bandTable, vB.vecTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }

    // ---- passages: ONE of doc 10's window rows committed, the rest +
    // doc 11's windowless marker missing; (_pid, _fp) healing is
    // null-safe (the marker's _fp is NULL)
    val pFull = Seq((10L, base), (11L, "tiny doc")).toDF("doc_id", "text").localCheckpoint(true)
    val pA = Passages.writePassageIndex(corpus, "text", "doc_id", "rpw_ps_a", windowTokens = 4, buckets = 4)
    val pB = Passages.writePassageIndex(corpus, "text", "doc_id", "rpw_ps_b", windowTokens = 4, buckets = 4)
    try {
      def prof(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] = {
        val m = df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        graft.CacheUtil.release(df); m
      }
      graft.CacheUtil.release(
        Passages.passageDupFractionIncrementalFold(pFull, "text", "doc_id", pB))
      val torn = spark.table(pB.fpTable).filter($"_pid" === 10L).orderBy($"_fp").limit(1)
      val fullN = spark.table(pB.fpTable).filter($"_pid" === 10L).count()
      assert(fullN > 1, "fixture doc must have more than one window row")
      Dedup.writeBucketedTable(torn, pA.fpTable, 4, Seq("_fp"),
        org.apache.spark.sql.SaveMode.Append)
      val healed = prof(Passages.passageDupFractionIncrementalFold(pFull, "text", "doc_id", pA))
      assert(healed.keySet === Set(11L),
        "doc 10 is ledger-seen (suppressed); the marker-less doc 11 must emit")
      def fpSet(t: String) = spark.table(t).select("_pid", "_fp", "_occ")
        .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString), r.getLong(2)))
        .sortBy(x => (x._1, x._2.getOrElse(""), x._3)).toSeq
      assert(fpSet(pA.fpTable) === fpSet(pB.fpTable),
        "healed passage table diverged from the clean fold's")
    } finally {
      graft.CacheUtil.release(pFull)
      graft.CacheUtil.release(full)
      Seq(pA.fpTable, pB.fpTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("torn-append replay: bands complete, shingle LEDGER torn (the asymmetric cross-table crash)") {
    // the one tear combination the per-id and within-id gates don't
    // reach: the band append committed WHOLE (both ids) but the shingle
    // job — the emission ledger — tore per-id. The replay must heal the
    // band table to a no-op (every row present), re-emit exactly the
    // ledger-unseen id's pairs, and complete the missing shingle row.
    import graft.operators.Dedup
    val (base, other) = rpTexts
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val full = Seq((10L, base), (11L, base)).toDF("doc_id", "text").localCheckpoint(true)
    val mhA = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "rpx_mh_a", buckets = 4)
    val mhB = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "rpx_mh_b", buckets = 4)
    try {
      graft.CacheUtil.release(
        Dedup.minHashNearDupsIncrementalFold(full, "text", "doc_id", 0.4, mhB))
      // manufacture: ALL of the batch's band rows, but only doc 10's shingle row
      Dedup.writeBucketedTable(
        spark.table(mhB.bandTable).filter($"_id".isin(10L, 11L)),
        mhA.bandTable, 4, Seq("_band", "_bucket"), org.apache.spark.sql.SaveMode.Append)
      Dedup.writeBucketedTable(
        spark.table(mhB.shingleTable).filter($"_sid" === 10L),
        mhA.shingleTable, 4, Seq("_sid"), org.apache.spark.sql.SaveMode.Append)
      val healed = Dedup.minHashNearDupsIncrementalFold(full, "text", "doc_id", 0.4, mhA)
      val pairs = healed.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.CacheUtil.release(healed)
      // 10's shingle (ledger) row committed → its pairs are suppressed
      // (the documented torn-ledger cost); 11 is unseen → re-emitted
      assert(pairs === Set((1L, 11L), (10L, 11L)))
      def rows(t: String, cols: Seq[String]) = spark.table(t).select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(rows(mhA.bandTable, Seq("_id", "_band", "_bucket"))
        === rows(mhB.bandTable, Seq("_id", "_band", "_bucket")),
        "band table diverged (the complete append must heal to a no-op)")
      assert(rows(mhA.shingleTable, Seq("_sid"))
        === rows(mhB.shingleTable, Seq("_sid")),
        "shingle ledger did not complete the missing row")
    } finally {
      graft.CacheUtil.release(full)
      Seq(mhA.bandTable, mhA.shingleTable, mhB.bandTable, mhB.shingleTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("torn-append replay cannot double-count lines: the batch commit marker gates visibility") {
    // lines are the one family whose index rows are batch-level
    // AGGREGATES (per-fp doc counts), so a torn job commit — count rows
    // landed, marker missing — must leave the batch INVISIBLE: a replay
    // that saw the orphan counts as committed would re-derive counts
    // for the ledger-missing docs and double-count every shared line
    import graft.operators.{Dedup, Lines}
    val corpus = Seq((1L, "shared banner line\nuniq a"), (2L, "other stuff\nuniq b"))
      .toDF("doc_id", "text")
    val full = Seq((10L, "shared banner line\nuniq c"), (11L, "shared banner line\nuniq d"))
      .toDF("doc_id", "text").localCheckpoint(true)
    val liA = Lines.writeLineIndex(corpus, "text", "doc_id", "rpw_ln_a", buckets = 4)
    val liB = Lines.writeLineIndex(corpus, "text", "doc_id", "rpw_ln_b", buckets = 4)
    def cleaned(df: org.apache.spark.sql.DataFrame): Map[Long, Option[String]] = {
      val m = df.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      graft.CacheUtil.release(df); m
    }
    def visibleBannerCount(t: String): Long = {
      val bids = spark.table(t).filter($"_fp".isNull && $"_did".isNull)
        .select($"_bid").collect().map(_.getLong(0)).toSeq
      spark.table(t).filter($"_ndocs".isNotNull && $"_bid".isin(bids: _*))
        .agg(sum($"_ndocs")).collect().head.getLong(0)
    }
    try {
      graft.CacheUtil.release(
        Lines.dropDuplicatedLinesIncrementalFold(full, "text", "doc_id", liB))
      // ledger rows must carry a bucket-SPREAD surrogate fp — a NULL fp
      // would pile a billion-doc ledger into the one NULL bucket
      assert(spark.table(liB.fpTable)
        .filter($"_did".isNotNull && $"_fp".isNull).count() === 0L,
        "ledger rows with a NULL (single-bucket) fp")
      // manufacture the torn state on A from the clean twin's batch
      // rows: ALL count rows + doc 10's ledger row landed, doc 11's
      // ledger row and the commit marker did not
      val torn = spark.table(liB.fpTable)
        .filter($"_bid" =!= 0L && ($"_ndocs".isNotNull || $"_did" === 10L))
      assert(torn.filter($"_ndocs".isNotNull).count() > 0, "no count rows in the torn plant")
      Dedup.writeBucketedTable(torn, liA.fpTable, 4, Seq("_fp"),
        org.apache.spark.sql.SaveMode.Append)
      // marker absent ⇒ the whole torn batch is invisible: fresh = the
      // FULL batch again, and its cleaning sees the PRE-batch corpus
      val healed = cleaned(Lines.dropDuplicatedLinesIncrementalFold(full, "text", "doc_id", liA))
      assert(healed === Map(10L -> Some("uniq c"), 11L -> Some("uniq d")))
      // the banner line is in corpus doc 1 + batch docs 10, 11 = 3; a
      // double-count would read 5
      assert(visibleBannerCount(liA.fpTable) === visibleBannerCount(liB.fpTable),
        "torn batch double-counted its lines")
      // the orphan rows are still on disk (invisible)…
      assert(spark.table(liA.fpTable).count() > spark.table(liB.fpTable).count())
      // …until compaction sweeps them and the tables converge exactly
      Lines.compactLineIndex(spark, liA)
      Lines.compactLineIndex(spark, liB)
      def rows(t: String) = spark.table(t)
        .collect().map(r => (Option(r.get(0)).map(_.toString),
          Option(r.get(1)).map(_.toString), Option(r.get(2)).map(_.toString)))
        .sortBy(x => (x._1.getOrElse(""), x._2.getOrElse(""), x._3.getOrElse(""))).toSeq
      assert(rows(liA.fpTable) === rows(liB.fpTable),
        "compacted torn table diverged from the clean twin")
      // and the healed catalogue keeps ingesting with the right counts
      val p = cleaned(Lines.dropDuplicatedLinesIncrementalFold(
        Seq((20L, "shared banner line\nuniq e")).toDF("doc_id", "text"),
        "text", "doc_id", liA))
      assert(p === Map(20L -> Some("uniq e")))
    } finally {
      graft.CacheUtil.release(full)
      Seq(liA.fpTable, liB.fpTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("mid-batch replay idempotence: passage + line folds (incl. windowless and NULL-text ledger rows)") {
    import graft.operators.{Lines, Passages}
    val (base, other) = rpTexts
    // ---- passages: a shared 4-token window + a SHORT doc (no windows —
    // only the NULL-fp marker row records it, which is exactly what the
    // replay suppression needs)
    val pCorpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val pDelta = Seq((10L, base), (11L, "tiny doc")).toDF("doc_id", "text").localCheckpoint(true)
    val pIdx = Passages.writePassageIndex(pCorpus, "text", "doc_id", "rp_ps", windowTokens = 4, buckets = 4)
    try {
      def prof(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] = {
        val m = df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        graft.CacheUtil.release(df); m
      }
      val p1 = prof(Passages.passageDupFractionIncrementalFold(pDelta, "text", "doc_id", pIdx))
      assert(p1(10L)._2 > 0, "shared window not detected — gate vacuous")
      assert(p1(11L) === ((0L, 0L)), "short doc must profile at zero windows")
      val pRows = spark.table(pIdx.fpTable).count()
      val p2 = prof(Passages.passageDupFractionIncrementalFold(pDelta, "text", "doc_id", pIdx))
      assert(p2.isEmpty, s"passage replay re-emitted $p2 (windowless ledger rows must suppress the short doc too)")
      assert(spark.table(pIdx.fpTable).count() === pRows, "passage index grew on replay")
      val p3 = prof(Passages.passageDupFractionIncrementalFold(
        Seq((20L, base)).toDF("doc_id", "text"), "text", "doc_id", pIdx))
      assert(p3(20L)._2 > 0, "index stopped ingesting after replay")
    } finally {
      graft.CacheUtil.release(pDelta)
      spark.sql(s"DROP TABLE IF EXISTS `${pIdx.fpTable}`")
    }

    // ---- lines: a batch's counts + ledger become visible only via its
    // commit marker; a NULL-text doc is recorded by its ledger row alone
    val lCorpus = Seq((1L, "shared banner line\nuniq a"), (2L, "other stuff\nuniq b"))
      .toDF("doc_id", "text")
    val lDelta = Seq((10L, "shared banner line\nuniq c"), (11L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").localCheckpoint(true)
    val lIdx = Lines.writeLineIndex(lCorpus, "text", "doc_id", "rp_ln", buckets = 4)
    try {
      def cleaned(df: org.apache.spark.sql.DataFrame): Map[Long, Option[String]] = {
        val m = df.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
        graft.CacheUtil.release(df); m
      }
      val l1 = cleaned(Lines.dropDuplicatedLinesIncrementalFold(lDelta, "text", "doc_id", lIdx))
      assert(l1(10L) === Some("uniq c"), "hot banner line not removed — gate vacuous")
      assert(l1(11L) === None, "NULL text must survive as NULL")
      val rows = spark.table(lIdx.fpTable).count()
      val counts = spark.table(lIdx.fpTable).agg(sum($"_ndocs")).collect().head.getLong(0)
      val l2 = cleaned(Lines.dropDuplicatedLinesIncrementalFold(lDelta, "text", "doc_id", lIdx))
      assert(l2.isEmpty, s"line replay re-emitted $l2 (NULL-text doc must be ledgered too)")
      assert(spark.table(lIdx.fpTable).count() === rows, "line catalogue grew on replay")
      assert(spark.table(lIdx.fpTable).agg(sum($"_ndocs")).collect().head.getLong(0) === counts,
        "line counts double-folded on replay")
      val l3 = cleaned(Lines.dropDuplicatedLinesIncrementalFold(
        Seq((20L, "shared banner line\nuniq d")).toDF("doc_id", "text"), "text", "doc_id", lIdx))
      assert(l3(20L) === Some("uniq d"), "catalogue stopped ingesting after replay")
    } finally {
      graft.CacheUtil.release(lDelta)
      spark.sql(s"DROP TABLE IF EXISTS `${lIdx.fpTable}`")
    }
  }

  test("mid-batch replay idempotence: exact + simhash64/128 + vector-LSH folds") {
    import graft.operators.{Dedup, Similarity}
    // ---- exact (fingerprint membership IS the ledger)
    val eIdx = Dedup.writeExactDedupIndex(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"), "text", "rp_ex", buckets = 4)
    val eDelta = Seq((10L, "alpha"), (11L, "fresh"), (12L, "fresh"))
      .toDF("doc_id", "text").localCheckpoint(true)
    try {
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] = {
        val s = df.select("doc_id").collect().map(_.getLong(0)).toSet
        graft.CacheUtil.release(df); s
      }
      assert(ids(Dedup.exactDedupIncrementalFold(eDelta, "text", "doc_id", eIdx)) === Set(11L))
      val n = spark.table(eIdx.fpTable).count()
      assert(ids(Dedup.exactDedupIncrementalFold(eDelta, "text", "doc_id", eIdx)) === Set.empty[Long])
      assert(spark.table(eIdx.fpTable).count() === n, "exact index grew on replay")
      assert(ids(Dedup.exactDedupIncrementalFold(
        Seq((20L, "novel")).toDF("doc_id", "text"), "text", "doc_id", eIdx)) === Set(20L))
    } finally {
      graft.CacheUtil.release(eDelta)
      spark.sql(s"DROP TABLE IF EXISTS `${eIdx.fpTable}`")
    }

    // ---- simhash64 + simhash128 (single chunk table = ledger)
    val (base, other) = rpTexts
    val shCorpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val shDelta = Seq((10L, base)).toDF("doc_id", "text").localCheckpoint(true)
    val s64 = Dedup.writeSimHashIndex(shCorpus, "text", "doc_id", "rp_s64", buckets = 4)
    val s128 = Dedup.writeSimHash128Index(shCorpus, "text", "doc_id", "rp_s128", buckets = 4)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
        val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        graft.CacheUtil.release(df); s
      }
      assert(pairs(Dedup.simHashNearDupsIncrementalFold(shDelta, "text", "doc_id", s64))
        .contains((1L, 10L)))
      val n64 = spark.table(s64.chunkTable).count()
      assert(pairs(Dedup.simHashNearDupsIncrementalFold(shDelta, "text", "doc_id", s64)).isEmpty,
        "simhash64 replay re-emitted")
      assert(spark.table(s64.chunkTable).count() === n64, "simhash64 chunk table grew on replay")

      assert(pairs(Dedup.simHashNearDupsIncrementalFold(shDelta, "text", "doc_id", s128))
        .contains((1L, 10L)))
      val n128 = spark.table(s128.chunkTable).count()
      assert(pairs(Dedup.simHashNearDupsIncrementalFold(shDelta, "text", "doc_id", s128)).isEmpty,
        "simhash128 replay re-emitted")
      assert(spark.table(s128.chunkTable).count() === n128, "simhash128 chunk table grew on replay")
    } finally {
      graft.CacheUtil.release(shDelta)
      Seq(s64.chunkTable, s128.chunkTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }

    // ---- vector-LSH (two tables: vec table is the ledger, band table
    // self-gates its append)
    def vecRow(id: Long, x: Float) = (id, Array(x, 1f, 0.5f, -0.25f))
    val vCorpus = Seq(vecRow(1L, 1f), vecRow(2L, -8f)).toDF("vec_id", "embedding")
    val vDelta = Seq(vecRow(10L, 1f)).toDF("vec_id", "embedding").localCheckpoint(true)
    val vIdx = Similarity.writeLshIndex(
      vCorpus, "embedding", "vec_id", "rp_lsh", nPlanes = 4, dim = 4, nTables = 2, buckets = 4)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
        val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        graft.CacheUtil.release(df); s
      }
      assert(pairs(Similarity.lshNearDupsIncrementalFold(vDelta, "embedding", "vec_id", 0.95, vIdx))
        === Seq((1L, 10L)))
      val nb = spark.table(vIdx.bandTable).count()
      val nv = spark.table(vIdx.vecTable).count()
      assert(pairs(Similarity.lshNearDupsIncrementalFold(vDelta, "embedding", "vec_id", 0.95, vIdx)).isEmpty,
        "vector-LSH replay re-emitted")
      assert(spark.table(vIdx.bandTable).count() === nb, "LSH band table grew on replay")
      assert(spark.table(vIdx.vecTable).count() === nv, "LSH vec table grew on replay")
      assert(pairs(Similarity.lshNearDupsIncrementalFold(
        Seq(vecRow(20L, 1f)).toDF("vec_id", "embedding"), "embedding", "vec_id", 0.95, vIdx)).toSet
        === Set((1L, 20L), (10L, 20L)))
    } finally {
      graft.CacheUtil.release(vDelta)
      Seq(vIdx.bandTable, vIdx.vecTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("mid-batch replay idempotence: semdedup fold against written IVF lists") {
    import graft.operators.Similarity
    def vecRow(id: Long, x: Float) = (id, Array(x, 1f, 0.5f, -0.25f))
    val corpus = Seq(vecRow(1L, 1f), vecRow(2L, -8f), vecRow(3L, -7.5f))
      .toDF("vec_id", "embedding")
    val built = Similarity.ivfBuild(corpus, "embedding", "vec_id", nCentroids = 2, refineIters = 1)
    val dir = java.nio.file.Files.createTempDirectory("rp_ivf").toString
    Similarity.ivfWrite(built, dir)
    graft.CacheUtil.release(built.assigned)
    val delta = Seq(vecRow(10L, 1f)).toDF("vec_id", "embedding").localCheckpoint(true)
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
      val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      graft.CacheUtil.release(df); s
    }
    try {
      assert(pairs(Similarity.semDedupPairsIncrementalFold(
        spark, delta, dir, "embedding", "vec_id", threshold = 0.95)) === Seq((1L, 10L)))
      val n = spark.read.parquet(s"$dir/lists").count()
      assert(pairs(Similarity.semDedupPairsIncrementalFold(
        spark, delta, dir, "embedding", "vec_id", threshold = 0.95)).isEmpty,
        "semdedup replay re-emitted")
      assert(spark.read.parquet(s"$dir/lists").count() === n, "IVF lists grew on replay")
      assert(pairs(Similarity.semDedupPairsIncrementalFold(
        spark, Seq(vecRow(20L, 1f)).toDF("vec_id", "embedding"), dir, "embedding", "vec_id",
        threshold = 0.95)).toSet === Set((1L, 20L), (10L, 20L)))
    } finally graft.CacheUtil.release(delta)
  }

  test("mid-batch replay idempotence: simhash combo fold (single chunk table = ledger)") {
    import graft.operators.Dedup
    val (base, other) = rpTexts
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val delta = Seq((10L, base)).toDF("doc_id", "text").localCheckpoint(true)
    val idx = Dedup.writeSimHashComboIndex(
      corpus, "text", "doc_id", "rp_cb", maxHamming = 3, blocks = 6, buckets = 4)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
        val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        graft.CacheUtil.release(df); s
      }
      assert(pairs(Dedup.simHashNearDupsIncrementalFold(delta, "text", "doc_id", idx))
        .contains((1L, 10L)), "identical twin not paired — gate vacuous")
      val n = spark.table(idx.chunkTable).count()
      assert(pairs(Dedup.simHashNearDupsIncrementalFold(delta, "text", "doc_id", idx)).isEmpty,
        "combo replay re-emitted")
      assert(spark.table(idx.chunkTable).count() === n, "combo chunk table grew on replay")
      assert(pairs(Dedup.simHashNearDupsIncrementalFold(
        Seq((20L, base)).toDF("doc_id", "text"), "text", "doc_id", idx)).toSet
        === Set((1L, 20L), (10L, 20L)), "index stopped ingesting after replay")
    } finally {
      graft.CacheUtil.release(delta)
      spark.sql(s"DROP TABLE IF EXISTS `${idx.chunkTable}`")
    }
  }

  // ------------------- string-id replay gates (round 15) -------------------
  // The lines `_did` bug (the ledger cast doc ids to bigint, so a
  // string-id corpus' ledger read back NULL, every replay looked fresh,
  // and shared lines were silently double-counted) was caught by code
  // reading, not by a test: every fold fixture above uses LONG ids.
  // These gates rerun the replay-idempotence contract with STRING doc
  // ids for every fold family — the ledger must match ids in their
  // NATIVE type, so a full replay emits nothing and no index grows. A
  // silent-cast regression in any family's ledger fails these.

  private def sPairs(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] = {
    val s = df.select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    graft.CacheUtil.release(df); s
  }

  test("string-id replay gate: exact + minhash + simhash64/128/combo folds") {
    import graft.operators.Dedup
    val (base, other) = rpTexts

    // ---- exact (the fp table is id-free — the fingerprint IS the
    // ledger — but the within-delta keep-min must be the STRING min)
    val eIdx = Dedup.writeExactDedupIndex(
      Seq(("c-a", "alpha"), ("c-b", "beta")).toDF("doc_id", "text"), "text", "rs_ex", buckets = 4)
    val eDelta = Seq(("d-a", "alpha"), ("d-b", "fresh"), ("d-c", "fresh"))
      .toDF("doc_id", "text").localCheckpoint(true)
    try {
      def ids(df: org.apache.spark.sql.DataFrame): Set[String] = {
        val s = df.select("doc_id").collect().map(_.getString(0)).toSet
        graft.CacheUtil.release(df); s
      }
      assert(ids(Dedup.exactDedupIncrementalFold(eDelta, "text", "doc_id", eIdx)) === Set("d-b"))
      val n = spark.table(eIdx.fpTable).count()
      assert(ids(Dedup.exactDedupIncrementalFold(eDelta, "text", "doc_id", eIdx)) === Set.empty[String],
        "exact replay re-emitted under string ids")
      assert(spark.table(eIdx.fpTable).count() === n, "exact index grew on string-id replay")
    } finally {
      graft.CacheUtil.release(eDelta)
      spark.sql(s"DROP TABLE IF EXISTS `${eIdx.fpTable}`")
    }

    // ---- minhash (shingle ledger + row-healed band table)
    val mCorpus = Seq(("c-a", base), ("c-b", other)).toDF("doc_id", "text")
    val mDelta = Seq(("d-a", base), ("d-b", base),
      ("d-c", "completely fresh words nothing shared here at all right now"))
      .toDF("doc_id", "text").localCheckpoint(true)
    val mIdx = Dedup.writeMinHashIndex(mCorpus, "text", "doc_id", "rs_mh", buckets = 4)
    try {
      assert(sPairs(Dedup.minHashNearDupsIncrementalFold(mDelta, "text", "doc_id", 0.4, mIdx)).toSet
        === Set(("c-a", "d-a"), ("c-a", "d-b"), ("d-a", "d-b")), "gate vacuous")
      val nb = spark.table(mIdx.bandTable).count()
      val ns = spark.table(mIdx.shingleTable).count()
      assert(sPairs(Dedup.minHashNearDupsIncrementalFold(mDelta, "text", "doc_id", 0.4, mIdx)).isEmpty,
        "minhash replay re-emitted under string ids")
      assert(spark.table(mIdx.bandTable).count() === nb, "band table grew on string-id replay")
      assert(spark.table(mIdx.shingleTable).count() === ns, "shingle table grew on string-id replay")
      assert(sPairs(Dedup.minHashNearDupsIncrementalFold(
        Seq(("e-a", base)).toDF("doc_id", "text"), "text", "doc_id", 0.4, mIdx)).toSet
        === Set(("c-a", "e-a"), ("d-a", "e-a"), ("d-b", "e-a")), "index stopped ingesting")
    } finally {
      graft.CacheUtil.release(mDelta)
      Seq(mIdx.bandTable, mIdx.shingleTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }

    // ---- simhash64 + simhash128 + combo (single chunk table = ledger)
    val shCorpus = Seq(("c-a", base), ("c-b", other)).toDF("doc_id", "text")
    val shDelta = Seq(("d-a", base)).toDF("doc_id", "text").localCheckpoint(true)
    val s64 = Dedup.writeSimHashIndex(shCorpus, "text", "doc_id", "rs_s64", buckets = 4)
    val s128 = Dedup.writeSimHash128Index(shCorpus, "text", "doc_id", "rs_s128", buckets = 4)
    val cb = Dedup.writeSimHashComboIndex(
      shCorpus, "text", "doc_id", "rs_cb", maxHamming = 3, blocks = 6, buckets = 4)
    try {
      assert(sPairs(Dedup.simHashNearDupsIncrementalFold(shDelta, "text", "doc_id", s64))
        .contains(("c-a", "d-a")), "gate vacuous")
      val n64 = spark.table(s64.chunkTable).count()
      assert(sPairs(Dedup.simHashNearDupsIncrementalFold(shDelta, "text", "doc_id", s64)).isEmpty,
        "simhash64 replay re-emitted under string ids")
      assert(spark.table(s64.chunkTable).count() === n64, "simhash64 chunk table grew on string-id replay")

      assert(sPairs(Dedup.simHashNearDupsIncrementalFold(shDelta, "text", "doc_id", s128))
        .contains(("c-a", "d-a")), "gate vacuous")
      val n128 = spark.table(s128.chunkTable).count()
      assert(sPairs(Dedup.simHashNearDupsIncrementalFold(shDelta, "text", "doc_id", s128)).isEmpty,
        "simhash128 replay re-emitted under string ids")
      assert(spark.table(s128.chunkTable).count() === n128, "simhash128 chunk table grew on string-id replay")

      assert(sPairs(Dedup.simHashNearDupsIncrementalFold(shDelta, "text", "doc_id", cb))
        .contains(("c-a", "d-a")), "gate vacuous")
      val ncb = spark.table(cb.chunkTable).count()
      assert(sPairs(Dedup.simHashNearDupsIncrementalFold(shDelta, "text", "doc_id", cb)).isEmpty,
        "combo replay re-emitted under string ids")
      assert(spark.table(cb.chunkTable).count() === ncb, "combo chunk table grew on string-id replay")
    } finally {
      graft.CacheUtil.release(shDelta)
      Seq(s64.chunkTable, s128.chunkTable, cb.chunkTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("string-id replay gate: vector-LSH + semdedup + passage + line folds (and the lines type fail-fast)") {
    import graft.operators.{Lines, Passages, Similarity}
    val (base, other) = rpTexts

    // ---- vector-LSH (vec table = ledger, band table self-gates)
    def vecRow(id: String, x: Float) = (id, Array(x, 1f, 0.5f, -0.25f))
    val vCorpus = Seq(vecRow("c-a", 1f), vecRow("c-b", -8f)).toDF("vec_id", "embedding")
    val vDelta = Seq(vecRow("d-a", 1f)).toDF("vec_id", "embedding").localCheckpoint(true)
    val vIdx = Similarity.writeLshIndex(
      vCorpus, "embedding", "vec_id", "rs_lsh", nPlanes = 4, dim = 4, nTables = 2, buckets = 4)
    try {
      assert(sPairs(Similarity.lshNearDupsIncrementalFold(vDelta, "embedding", "vec_id", 0.95, vIdx))
        === Seq(("c-a", "d-a")), "gate vacuous")
      val nb = spark.table(vIdx.bandTable).count()
      val nv = spark.table(vIdx.vecTable).count()
      assert(sPairs(Similarity.lshNearDupsIncrementalFold(vDelta, "embedding", "vec_id", 0.95, vIdx)).isEmpty,
        "vector-LSH replay re-emitted under string ids")
      assert(spark.table(vIdx.bandTable).count() === nb, "LSH band table grew on string-id replay")
      assert(spark.table(vIdx.vecTable).count() === nv, "LSH vec table grew on string-id replay")
    } finally {
      graft.CacheUtil.release(vDelta)
      Seq(vIdx.bandTable, vIdx.vecTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }

    // ---- semdedup against written IVF lists
    val iCorpus = Seq(vecRow("c-a", 1f), vecRow("c-b", -8f), vecRow("c-c", -7.5f))
      .toDF("vec_id", "embedding")
    val built = Similarity.ivfBuild(iCorpus, "embedding", "vec_id", nCentroids = 2, refineIters = 1)
    val iDir = java.nio.file.Files.createTempDirectory("rs_ivf").toString
    Similarity.ivfWrite(built, iDir)
    graft.CacheUtil.release(built.assigned)
    val iDelta = Seq(vecRow("d-a", 1f)).toDF("vec_id", "embedding").localCheckpoint(true)
    try {
      assert(sPairs(Similarity.semDedupPairsIncrementalFold(
        spark, iDelta, iDir, "embedding", "vec_id", threshold = 0.95)) === Seq(("c-a", "d-a")),
        "gate vacuous")
      val n = spark.read.parquet(s"$iDir/lists").count()
      assert(sPairs(Similarity.semDedupPairsIncrementalFold(
        spark, iDelta, iDir, "embedding", "vec_id", threshold = 0.95)).isEmpty,
        "semdedup replay re-emitted under string ids")
      assert(spark.read.parquet(s"$iDir/lists").count() === n, "IVF lists grew on string-id replay")
    } finally graft.CacheUtil.release(iDelta)

    // ---- passages (per-doc output; windowless marker rows must ledger
    // the short doc under its STRING id too)
    val pCorpus = Seq(("c-a", base), ("c-b", other)).toDF("doc_id", "text")
    val pDelta = Seq(("d-a", base), ("d-b", "tiny doc"))
      .toDF("doc_id", "text").localCheckpoint(true)
    val pIdx = Passages.writePassageIndex(pCorpus, "text", "doc_id", "rs_ps", windowTokens = 4, buckets = 4)
    try {
      def prof(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] = {
        val m = df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        graft.CacheUtil.release(df); m
      }
      val p1 = prof(Passages.passageDupFractionIncrementalFold(pDelta, "text", "doc_id", pIdx))
      assert(p1("d-a")._2 > 0, "shared window not detected — gate vacuous")
      assert(p1("d-b") === ((0L, 0L)), "short doc must profile at zero windows")
      val pRows = spark.table(pIdx.fpTable).count()
      val p2 = prof(Passages.passageDupFractionIncrementalFold(pDelta, "text", "doc_id", pIdx))
      assert(p2.isEmpty, s"passage replay re-emitted $p2 under string ids")
      assert(spark.table(pIdx.fpTable).count() === pRows, "passage index grew on string-id replay")
    } finally {
      graft.CacheUtil.release(pDelta)
      spark.sql(s"DROP TABLE IF EXISTS `${pIdx.fpTable}`")
    }

    // ---- lines: THE family the bigint cast broke. The catalogue is
    // typed off the build corpus (`_did` string here); the replay must
    // read its own ledger back, so the double-count guard is the
    // sum(_ndocs) assert — under the old cast it would read 2× after
    // the replay.
    val lCorpus = Seq(("c-a", "shared banner line\nuniq a"), ("c-b", "other stuff\nuniq b"))
      .toDF("doc_id", "text")
    val lDelta = Seq(("d-a", "shared banner line\nuniq c"), ("d-b", null.asInstanceOf[String]))
      .toDF("doc_id", "text").localCheckpoint(true)
    val lIdx = Lines.writeLineIndex(lCorpus, "text", "doc_id", "rs_ln", buckets = 4)
    try {
      assert(spark.table(lIdx.fpTable).schema("_did").dataType ===
        org.apache.spark.sql.types.StringType, "ledger _did must keep the id's native type")
      def cleaned(df: org.apache.spark.sql.DataFrame): Map[String, Option[String]] = {
        val m = df.collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
        graft.CacheUtil.release(df); m
      }
      val l1 = cleaned(Lines.dropDuplicatedLinesIncrementalFold(lDelta, "text", "doc_id", lIdx))
      assert(l1("d-a") === Some("uniq c"), "hot banner line not removed — gate vacuous")
      assert(l1("d-b") === None, "NULL text must survive as NULL")
      val rows = spark.table(lIdx.fpTable).count()
      val counts = spark.table(lIdx.fpTable).agg(sum($"_ndocs")).collect().head.getLong(0)
      val l2 = cleaned(Lines.dropDuplicatedLinesIncrementalFold(lDelta, "text", "doc_id", lIdx))
      assert(l2.isEmpty, s"line replay re-emitted $l2 under string ids")
      assert(spark.table(lIdx.fpTable).count() === rows, "line catalogue grew on string-id replay")
      assert(spark.table(lIdx.fpTable).agg(sum($"_ndocs")).collect().head.getLong(0) === counts,
        "line counts double-folded on string-id replay — the bigint-cast bug")
      val l3 = cleaned(Lines.dropDuplicatedLinesIncrementalFold(
        Seq(("e-a", "shared banner line\nuniq d")).toDF("doc_id", "text"), "text", "doc_id", lIdx))
      assert(l3("e-a") === Some("uniq d"), "catalogue stopped ingesting after replay")
      // a mismatched id type must fail FAST, not silently coerce
      val err = intercept[IllegalArgumentException] {
        Lines.dropDuplicatedLinesIncrementalFold(
          Seq((99L, "x")).toDF("doc_id", "text"), "text", "doc_id", lIdx)
      }
      assert(err.getMessage.contains("native type"), s"unexpected message: ${err.getMessage}")
      val err2 = intercept[IllegalArgumentException] {
        Lines.appendToLineIndex(
          Seq((99L, "x")).toDF("doc_id", "text"), "text", "doc_id", lIdx)
      }
      assert(err2.getMessage.contains("native type"))
    } finally {
      graft.CacheUtil.release(lDelta)
      spark.sql(s"DROP TABLE IF EXISTS `${lIdx.fpTable}`")
    }

    // …while a LOSSLESS integral widening is accepted: a pre-round-15
    // catalogue built from int-like ids stores bigint _did with correct
    // values, and the join widens losslessly — only genuinely lossy or
    // cross-kind mismatches fail fast
    val wCorpus = Seq((1L, "shared w\nuniq a"), (2L, "other\nuniq b")).toDF("doc_id", "text")
    val wIdx = Lines.writeLineIndex(wCorpus, "text", "doc_id", "rs_lnw", buckets = 4)
    try {
      val intDelta = Seq((10, "shared w\nuniq c")).toDF("doc_id", "text").localCheckpoint(true)
      val w1 = Lines.dropDuplicatedLinesIncrementalFold(intDelta, "text", "doc_id", wIdx)
      assert(w1.collect().map(r => Option(r.getString(1))).toSeq === Seq(Some("uniq c")),
        "int-id delta into a long-id catalogue must clean normally")
      graft.CacheUtil.release(w1)
      val rows = spark.table(wIdx.fpTable).count()
      val w2 = Lines.dropDuplicatedLinesIncrementalFold(intDelta, "text", "doc_id", wIdx)
      assert(w2.isEmpty, "widened-id replay re-emitted")
      graft.CacheUtil.release(w2)
      assert(spark.table(wIdx.fpTable).count() === rows, "catalogue grew on widened-id replay")
      graft.CacheUtil.release(intDelta)
    } finally spark.sql(s"DROP TABLE IF EXISTS `${wIdx.fpTable}`")
  }

  test("every fold family invokes its sink BEFORE its first index append") {
    import graft.operators.{Dedup, Lines, Passages, Similarity}
    // The ordering is THE load-bearing invariant of the sink contract:
    // emissions must be durable before the replay ledger commits, or a
    // crash between the two silently loses them (the replay suppresses
    // the batch). Each family runs its fold with a sink that snapshots
    // the index tables' row counts AT CALLBACK TIME; those must equal
    // the PRE-fold counts (no append had happened yet) while the
    // POST-fold counts must exceed them (the appends really happened
    // after — non-vacuous both ways). The callback also counts the
    // frame it was handed (the sink must receive a materialized,
    // usable emission frame).
    val (base, other) = rpTexts
    def gate(
        family: String,
        tableCounts: () => Seq[Long],
        run: (DataFrame => Unit) => DataFrame): Unit = {
      val pre = tableCounts()
      var atSink: Option[Seq[Long]] = None
      var sunkRows = -1L
      val out = run { df =>
        sunkRows = df.count()
        atSink = Some(tableCounts())
      }
      graft.CacheUtil.release(out)
      val post = tableCounts()
      assert(atSink.isDefined, s"$family: sink never invoked")
      assert(atSink.get === pre,
        s"$family: an index append committed BEFORE the sink ran (pre=$pre at-sink=${atSink.get})")
      assert(post.zip(pre).forall { case (p, q) => p > q },
        s"$family: appends did not follow the sink (pre=$pre post=$post) — ordering gate vacuous")
      assert(sunkRows >= 0L, s"$family: sink frame not countable")
    }
    val docCorpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    def docDelta() = Seq((10L, base)).toDF("doc_id", "text").localCheckpoint(true)

    val mh = Dedup.writeMinHashIndex(docCorpus, "text", "doc_id", "snk_mh", buckets = 4)
    val ps = Passages.writePassageIndex(docCorpus, "text", "doc_id", "snk_ps", windowTokens = 4, buckets = 4)
    val ln = Lines.writeLineIndex(
      Seq((1L, "shared banner line\nuniq a"), (2L, "other stuff\nuniq b")).toDF("doc_id", "text"),
      "text", "doc_id", "snk_ln", buckets = 4)
    val ex = Dedup.writeExactDedupIndex(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"), "text", "snk_ex", buckets = 4)
    val s64 = Dedup.writeSimHashIndex(docCorpus, "text", "doc_id", "snk_s64", buckets = 4)
    val s128 = Dedup.writeSimHash128Index(docCorpus, "text", "doc_id", "snk_s128", buckets = 4)
    val cb = Dedup.writeSimHashComboIndex(
      docCorpus, "text", "doc_id", "snk_cb", maxHamming = 3, blocks = 6, buckets = 4)
    def vecRow(id: Long, x: Float) = (id, Array(x, 1f, 0.5f, -0.25f))
    val vCorpus = Seq(vecRow(1L, 1f), vecRow(2L, -8f)).toDF("vec_id", "embedding")
    val lsh = Similarity.writeLshIndex(
      vCorpus, "embedding", "vec_id", "snk_lsh", nPlanes = 4, dim = 4, nTables = 2, buckets = 4)
    val ivfCorpus = Seq(vecRow(1L, 1f), vecRow(2L, -8f), vecRow(3L, -7.5f))
      .toDF("vec_id", "embedding")
    val ivfBuilt = Similarity.ivfBuild(ivfCorpus, "embedding", "vec_id", nCentroids = 2, refineIters = 1)
    val ivfDir = java.nio.file.Files.createTempDirectory("snk_ivf").toString
    Similarity.ivfWrite(ivfBuilt, ivfDir)
    graft.CacheUtil.release(ivfBuilt.assigned)
    def tc(tables: String*)(): Seq[Long] = tables.map(t => spark.table(t).count()).toSeq
    try {
      gate("minhash", tc(mh.bandTable, mh.shingleTable),
        s => { val d = docDelta(); val o = Dedup.minHashNearDupsIncrementalFold(d, "text", "doc_id", 0.4, mh, Some(s)); graft.CacheUtil.release(d); o })
      gate("passages", tc(ps.fpTable),
        s => { val d = docDelta(); val o = Passages.passageDupFractionIncrementalFold(d, "text", "doc_id", ps, Some(s)); graft.CacheUtil.release(d); o })
      gate("lines", tc(ln.fpTable),
        s => { val d = Seq((10L, "shared banner line\nuniq c")).toDF("doc_id", "text").localCheckpoint(true); val o = Lines.dropDuplicatedLinesIncrementalFold(d, "text", "doc_id", ln, minDocs = 2, Some(s)); graft.CacheUtil.release(d); o })
      gate("exact", tc(ex.fpTable),
        s => { val d = Seq((10L, "fresh")).toDF("doc_id", "text").localCheckpoint(true); val o = Dedup.exactDedupIncrementalFold(d, "text", "doc_id", ex, Some(s)); graft.CacheUtil.release(d); o })
      gate("simhash64", tc(s64.chunkTable),
        s => { val d = docDelta(); val o = Dedup.simHashNearDupsIncrementalFold(d, "text", "doc_id", s64, Some(s)); graft.CacheUtil.release(d); o })
      gate("simhash128", tc(s128.chunkTable),
        s => { val d = docDelta(); val o = Dedup.simHashNearDupsIncrementalFold(d, "text", "doc_id", s128, Some(s)); graft.CacheUtil.release(d); o })
      gate("combo", tc(cb.chunkTable),
        s => { val d = docDelta(); val o = Dedup.simHashNearDupsIncrementalFold(d, "text", "doc_id", cb, Some(s)); graft.CacheUtil.release(d); o })
      gate("vector-lsh", tc(lsh.bandTable, lsh.vecTable),
        s => { val d = Seq(vecRow(10L, 1f)).toDF("vec_id", "embedding").localCheckpoint(true); val o = Similarity.lshNearDupsIncrementalFold(d, "embedding", "vec_id", 0.95, lsh, Some(s)); graft.CacheUtil.release(d); o })
      gate("semdedup", () => Seq(spark.read.parquet(s"$ivfDir/lists").count()),
        s => { val d = Seq(vecRow(10L, 1f)).toDF("vec_id", "embedding").localCheckpoint(true); val o = Similarity.semDedupPairsIncrementalFold(spark, d, ivfDir, "embedding", "vec_id", threshold = 0.95, sink = Some(s)); graft.CacheUtil.release(d); o })
    } finally {
      Seq(mh.bandTable, mh.shingleTable, ps.fpTable, ln.fpTable, ex.fpTable,
        s64.chunkTable, s128.chunkTable, cb.chunkTable, lsh.bandTable, lsh.vecTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("simhash fold failure path: a throwing sink or append pins nothing and leaves the index unchanged (64/128/combo)") {
    import graft.operators.{CompactLock, Dedup}
    // The one SimHash fold pins the ledger read, the admitted delta, the
    // capped members and the emitted pairs; each must be released on
    // EVERY exit. Two failure points per key scheme: the sink throws
    // (before the append), and the append throws after the sink ran (a
    // held compaction sentinel makes it fail fast). Each must propagate,
    // pin no persistent RDD, leave the index row count unchanged, and a
    // retry must emit exactly what a clean run emits.
    val (base, other) = rpTexts
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    def delta() = Seq((10L, base), (11L, base)).toDF("doc_id", "text")
    def pairs(df: DataFrame): Set[(Long, Long)] = {
      val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.CacheUtil.release(df); s
    }
    val kinds = Seq[(String, String => Dedup.SimHashFamilyIndex)](
      "s64" -> (n => Dedup.writeSimHashIndex(corpus, "text", "doc_id", n, buckets = 4)),
      "s128" -> (n => Dedup.writeSimHash128Index(corpus, "text", "doc_id", n, buckets = 4)),
      "cb" -> (n => Dedup.writeSimHashComboIndex(
        corpus, "text", "doc_id", n, maxHamming = 3, blocks = 6, buckets = 4)))
    for ((kind, write) <- kinds) {
      val clean = write(s"ff_${kind}_clean")
      val idx = write(s"ff_$kind")
      try {
        val expected = pairs(Dedup.simHashNearDupsIncrementalFold(delta(), "text", "doc_id", clean))
        assert(expected === Set((1L, 10L), (1L, 11L), (10L, 11L)),
          s"$kind: clean run emitted $expected")
        val rows = spark.table(idx.chunkTable).count()
        def failingRun(what: String, sink: DataFrame => Unit, message: String): Unit = {
          val before = spark.sparkContext.getPersistentRDDs.keySet
          val e = intercept[IllegalStateException](
            Dedup.simHashNearDupsIncrementalFold(delta(), "text", "doc_id", idx, Some(sink)))
          assert(e.getMessage.contains(message), s"$kind/$what: wrong error ${e.getMessage}")
          val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
          assert(leaked.isEmpty, s"$kind/$what leaked persistent RDDs: $leaked")
          assert(spark.table(idx.chunkTable).count() === rows, s"$kind/$what changed the index")
        }
        failingRun("sink", _ => throw new IllegalStateException("sink down"), "sink down")
        val lock = CompactLock.forTable(spark, idx.chunkTable)
        val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
        var sunk = -1L
        CompactLock.acquire(fs, lock)
        try failingRun("append", df => sunk = df.count(), "compaction")
        finally CompactLock.releaseIfCanonical(fs, lock, canonicalPresent = true)
        assert(sunk === expected.size.toLong, s"$kind: the sink did not run before the append")
        assert(pairs(Dedup.simHashNearDupsIncrementalFold(delta(), "text", "doc_id", idx)) === expected,
          s"$kind: retry after the failures emitted differently from a clean run")
      } finally
        Seq(clean, idx).foreach(i => spark.sql(s"DROP TABLE IF EXISTS `${i.chunkTable}`"))
    }
  }

  test("minhash fold failure path: a throwing sink or append pins nothing and a retry emits a clean run's pairs") {
    import graft.operators.{CompactLock, Dedup}
    // The MinHash fold pins the ledger read, the raw and admitted delta
    // banding, the capped members, the delta shingles and the emitted
    // pairs; each must be released on EVERY exit. Two failure points:
    // the sink throws (before any append), and the shingle append throws
    // after the sink ran (a held compaction sentinel on the emission
    // ledger makes it fail fast; the overlapped band append may still
    // commit — the torn state the retry must heal).
    val (base, other) = rpTexts
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    def delta() = Seq((10L, base), (11L, base)).toDF("doc_id", "text")
    def pairs(df: DataFrame): Set[(Long, Long)] = {
      val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.CacheUtil.release(df); s
    }
    val clean = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "mff_clean", buckets = 4)
    val idx = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "mff", buckets = 4)
    def counts(i: Dedup.MinHashIndex) =
      Seq(i.bandTable, i.shingleTable).map(spark.table(_).count())
    try {
      val expected = pairs(
        Dedup.minHashNearDupsIncrementalFold(delta(), "text", "doc_id", 0.4, clean))
      assert(expected === Set((1L, 10L), (1L, 11L), (10L, 11L)), s"clean run emitted $expected")
      val shRows = spark.table(idx.shingleTable).count()
      def failingRun(what: String, sink: DataFrame => Unit, message: String): Unit = {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val e = intercept[IllegalStateException](
          Dedup.minHashNearDupsIncrementalFold(delta(), "text", "doc_id", 0.4, idx, Some(sink)))
        assert(e.getMessage.contains(message), s"$what: wrong error ${e.getMessage}")
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty, s"$what leaked persistent RDDs: $leaked")
        assert(spark.table(idx.shingleTable).count() === shRows, s"$what changed the shingle ledger")
      }
      val untouched = counts(idx)
      failingRun("sink", _ => throw new IllegalStateException("sink down"), "sink down")
      assert(counts(idx) === untouched, "a throwing sink let an append through")
      val lock = CompactLock.forTable(spark, idx.shingleTable)
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var sunk = -1L
      CompactLock.acquire(fs, lock)
      try failingRun("append", df => sunk = df.count(), "compaction")
      finally CompactLock.releaseIfCanonical(fs, lock, canonicalPresent = true)
      assert(sunk === expected.size.toLong, "the sink did not run before the append")
      assert(pairs(Dedup.minHashNearDupsIncrementalFold(delta(), "text", "doc_id", 0.4, idx))
        === expected, "retry after the failures emitted differently from a clean run")
      assert(counts(idx) === counts(clean), "retry did not converge to the clean fold's index")
    } finally
      Seq(clean, idx).foreach(i =>
        Seq(i.bandTable, i.shingleTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`")))
  }

  test("exact fold failure path: a throwing sink or append pins nothing and a retry emits a clean run's keepers") {
    import graft.operators.{CompactLock, Dedup}
    // The exact fold pins the fingerprinted delta, its unseen rows and
    // (with a sink) the emitted keepers; each must be released on EVERY
    // exit. Two failure points: the sink throws (before the append), and
    // the fingerprint append throws after the sink ran (a held compaction
    // sentinel makes it fail fast). Each must propagate, pin no
    // persistent RDD and leave the index unchanged, and a retry must emit
    // exactly what a clean run emits.
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    def delta() = Seq((10L, "alpha"), (11L, "fresh"), (12L, "fresh"), (13L, "novel"))
      .toDF("doc_id", "text")
    def ids(df: DataFrame): Set[Long] = {
      val s = df.select("doc_id").collect().map(_.getLong(0)).toSet
      graft.CacheUtil.release(df); s
    }
    val clean = Dedup.writeExactDedupIndex(corpus, "text", "eff_clean", buckets = 4)
    val idx = Dedup.writeExactDedupIndex(corpus, "text", "eff", buckets = 4)
    try {
      val expected = ids(Dedup.exactDedupIncrementalFold(delta(), "text", "doc_id", clean))
      assert(expected === Set(11L, 13L), s"clean run emitted $expected")
      val rows = spark.table(idx.fpTable).count()
      def failingRun(what: String, sink: DataFrame => Unit, message: String): Unit = {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val e = intercept[IllegalStateException](
          Dedup.exactDedupIncrementalFold(delta(), "text", "doc_id", idx, Some(sink)))
        assert(e.getMessage.contains(message), s"$what: wrong error ${e.getMessage}")
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty, s"$what leaked persistent RDDs: $leaked")
        assert(spark.table(idx.fpTable).count() === rows, s"$what changed the index")
      }
      failingRun("sink", _ => throw new IllegalStateException("sink down"), "sink down")
      val lock = CompactLock.forTable(spark, idx.fpTable)
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var sunk = -1L
      CompactLock.acquire(fs, lock)
      try failingRun("append", df => sunk = df.count(), "compaction")
      finally CompactLock.releaseIfCanonical(fs, lock, canonicalPresent = true)
      assert(sunk === expected.size.toLong, "the sink did not run before the append")
      assert(ids(Dedup.exactDedupIncrementalFold(delta(), "text", "doc_id", idx)) === expected,
        "retry after the failures emitted differently from a clean run")
      assert(spark.table(idx.fpTable).count() === spark.table(clean.fpTable).count(),
        "retry did not converge to the clean fold's index")
    } finally
      Seq(clean, idx).foreach(i => spark.sql(s"DROP TABLE IF EXISTS `${i.fpTable}`"))
  }


  test("fold failure paths: a throwing sink or append pins nothing, leaves the index unchanged, and a retry emits a clean run's output (vector-LSH, passages, lines, semDedup)") {
    import graft.operators.{CompactLock, Lines, Passages, Similarity}
    // The MinHash, SimHash and exact folds have their own failure-path
    // tests above; this one runs the other four fold families. Every fold
    // pins its ledger read, its signature checkpoints, its probe's
    // intermediates and its emission; each must be released on EVERY exit. Two failure points per family: the sink throws (before
    // any append), and an append throws after the sink ran (a held
    // compaction sentinel on the family's emission ledger makes it fail
    // fast; the other append of a two-table family may still commit — the
    // torn state the retry must heal). semDedup checks its lock only at
    // entry, so it runs the sink case only. Each failure must propagate,
    // pin no persistent RDD and leave the index (the locked ledger, for
    // the append case) unchanged; a retry must emit exactly what a clean
    // run on a twin index emits and converge to the twin's row counts.
    val (base, other) = rpTexts
    val docs = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    def docDelta() = Seq((10L, base), (11L, base)).toDF("doc_id", "text")
    def vecRow(id: Long, x: Float) = (id, Array(x, 1f, 0.5f, -0.25f))
    val vecs = Seq(vecRow(1L, 1f), vecRow(2L, -8f), vecRow(3L, -7.5f)).toDF("vec_id", "embedding")
    def vecDelta() = Seq(vecRow(10L, 1f), vecRow(11L, 1f)).toDF("vec_id", "embedding")
    // one family: its fold on the clean twin (true) or the failing index,
    // the row counts of either, and the failing index's emission ledger
    // table when its appends honor a held CompactLock
    final case class Family(
        name: String,
        fold: (Boolean, Option[DataFrame => Unit]) => DataFrame,
        counts: Boolean => Seq[Long],
        ledger: Option[String],
        drop: () => Unit)
    def tableFamily[I](name: String, c: I, i: I)(tables: I => Seq[String], ledger: I => String)(
        fold: (I, Option[DataFrame => Unit]) => DataFrame): Family =
      Family(name, (clean, s) => fold(if (clean) c else i, s),
        clean => tables(if (clean) c else i).map(spark.table(_).count()), Some(ledger(i)),
        () => Seq(c, i).flatMap(tables).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`")))
    def twins[I](name: String)(write: String => I): Seq[I] = Seq(s"${name}_clean", name).map(write)
    val families: Seq[() => Family] = Seq(
      () => {
        val Seq(c, i) = twins("ff_lsh")(Similarity.writeLshIndex(
          vecs, "embedding", "vec_id", _, nPlanes = 4, dim = 4, nTables = 2, buckets = 4))
        tableFamily("vector-lsh", c, i)(x => Seq(x.bandTable, x.vecTable), _.vecTable)(
          Similarity.lshNearDupsIncrementalFold(vecDelta(), "embedding", "vec_id", 0.95, _, _))
      },
      () => {
        val Seq(c, i) = twins("ff_ps")(
          Passages.writePassageIndex(docs, "text", "doc_id", _, windowTokens = 4, buckets = 4))
        tableFamily("passages", c, i)(x => Seq(x.fpTable), _.fpTable)(
          Passages.passageDupFractionIncrementalFold(
            Seq((10L, base), (11L, "too short")).toDF("doc_id", "text"), "text", "doc_id", _, _))
      },
      () => {
        val corpus = Seq((1L, "shared banner line\nuniq a"), (2L, "other stuff\nuniq b"))
          .toDF("doc_id", "text")
        val Seq(c, i) = twins("ff_ln")(Lines.writeLineIndex(corpus, "text", "doc_id", _, buckets = 4))
        tableFamily("lines", c, i)(x => Seq(x.fpTable), _.fpTable)(
          Lines.dropDuplicatedLinesIncrementalFold(
            Seq((10L, "shared banner line\nuniq c"), (11L, "fresh line")).toDF("doc_id", "text"),
            "text", "doc_id", _, minDocs = 2, _))
      },
      () => {
        val built = Similarity.ivfBuild(vecs, "embedding", "vec_id", nCentroids = 2, refineIters = 1)
        val Seq(c, i) = twins("ff_ivf") { n =>
          val d = java.nio.file.Files.createTempDirectory(n).toString
          Similarity.ivfWrite(built, d); d
        }
        graft.CacheUtil.release(built.assigned)
        val dir = (clean: Boolean) => if (clean) c else i
        Family("semdedup", (clean, s) => Similarity.semDedupPairsIncrementalFold(
            spark, vecDelta(), dir(clean), "embedding", "vec_id", threshold = 0.95, sink = s),
          clean => Seq(spark.read.parquet(s"${dir(clean)}/lists").count()), None, () => ())
      })
    def rows(df: DataFrame): Set[org.apache.spark.sql.Row] = {
      val r = df.collect().toSet
      graft.CacheUtil.release(df); r
    }
    for (make <- families) {
      val f = make()
      try {
        val expected = rows(f.fold(true, None))
        assert(expected.nonEmpty, s"${f.name}: a clean run emitted nothing — gate vacuous")
        def failingRun(what: String, sink: DataFrame => Unit, message: String): Unit = {
          val before = spark.sparkContext.getPersistentRDDs.keySet
          val e = intercept[IllegalStateException](f.fold(false, Some(sink)))
          assert(e.getMessage.contains(message), s"${f.name}/$what: wrong error ${e.getMessage}")
          val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
          assert(leaked.isEmpty, s"${f.name}/$what leaked ${leaked.size} persistent RDDs: $leaked")
        }
        val untouched = f.counts(false)
        failingRun("sink", _ => throw new IllegalStateException("sink down"), "sink down")
        assert(f.counts(false) === untouched, s"${f.name}: a throwing sink let an append through")
        f.ledger.foreach { t =>
          val held = spark.table(t).count()
          val lock = CompactLock.forTable(spark, t)
          val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
          var sunk = -1L
          CompactLock.acquire(fs, lock)
          try failingRun("append", df => sunk = df.count(), "compaction")
          finally CompactLock.releaseIfCanonical(fs, lock, canonicalPresent = true)
          assert(sunk === expected.size.toLong, s"${f.name}: the sink did not run before the append")
          assert(spark.table(t).count() === held, s"${f.name}: the locked ledger changed")
        }
        assert(rows(f.fold(false, None)) === expected,
          s"${f.name}: retry after the failures emitted differently from a clean run")
        assert(f.counts(false) === f.counts(true),
          s"${f.name}: retry did not converge to the clean fold's index")
      } finally f.drop()
    }
  }

  test("probe-only and append-only failure paths pin nothing: an append under a held CompactLock, a probe over a dropped index table (minhash, simhash, vector-LSH, passages)") {
    import graft.operators.{CompactLock, Dedup, Passages, Similarity}
    // The probe-only and append-only entry points run a family's
    // signatures, admission and probe the way its fold does, so they pin
    // the same checkpoints and must release them on every exit. Two
    // failure points per family: an append whose first write meets a held
    // compaction sentinel (passages has no append-only path of its own),
    // and a probe over an index with one table dropped, which throws
    // after the delta-side signatures ran. Each must propagate and pin no
    // persistent RDD.
    val (base, other) = rpTexts
    val docs = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    def docDelta() = Seq((10L, base), (11L, base)).toDF("doc_id", "text")
    def vecRow(id: Long, x: Float) = (id, Array(x, 1f, 0.5f, -0.25f))
    val vecs = Seq(vecRow(1L, 1f), vecRow(2L, -8f), vecRow(3L, -7.5f)).toDF("vec_id", "embedding")
    def vecDelta() = Seq(vecRow(10L, 1f), vecRow(11L, 1f)).toDF("vec_id", "embedding")
    // one family: its probe-only and append-only calls, the table its
    // append writes first (locked) and the table its probe reads last
    // (dropped), and every table it owns
    final case class Family(
        name: String,
        probe: () => DataFrame,
        append: Option[() => Unit],
        locked: String,
        dropped: String,
        tables: Seq[String])
    val families: Seq[() => Family] = Seq(
      () => {
        val idx = Dedup.writeMinHashIndex(docs, "text", "doc_id", "pf_mh", buckets = 4)
        Family("minhash", () => Dedup.minHashNearDupsIncremental(docDelta(), "text", "doc_id", 0.4, idx),
          Some(() => Dedup.appendToMinHashIndex(docDelta(), "text", "doc_id", idx)),
          idx.bandTable, idx.shingleTable, Seq(idx.bandTable, idx.shingleTable))
      },
      () => {
        val idx = Dedup.writeSimHashIndex(docs, "text", "doc_id", "pf_sh", buckets = 4)
        Family("simhash", () => Dedup.simHashNearDupsIncremental(docDelta(), "text", "doc_id", idx),
          Some(() => Dedup.appendToSimHashIndex(docDelta(), "text", "doc_id", idx)),
          idx.chunkTable, idx.chunkTable, Seq(idx.chunkTable))
      },
      () => {
        val idx = Similarity.writeLshIndex(
          vecs, "embedding", "vec_id", "pf_lsh", nPlanes = 4, dim = 4, nTables = 2, buckets = 4)
        Family("vector-lsh",
          () => Similarity.lshNearDupsIncremental(vecDelta(), "embedding", "vec_id", 0.95, idx),
          Some(() => Similarity.appendToLshIndex(vecDelta(), "embedding", "vec_id", idx)),
          idx.bandTable, idx.vecTable, Seq(idx.bandTable, idx.vecTable))
      },
      () => {
        val idx = Passages.writePassageIndex(docs, "text", "doc_id", "pf_ps", windowTokens = 4, buckets = 4)
        Family("passages",
          () => Passages.passageDupFractionIncremental(docDelta(), "text", "doc_id", idx),
          None, idx.fpTable, idx.fpTable, Seq(idx.fpTable))
      })
    def pinsNothing(f: Family, what: String)(call: => Unit): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      call
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"${f.name}/$what leaked ${leaked.size} persistent RDDs: $leaked")
    }
    for (make <- families) {
      val f = make()
      try {
        val clean = f.probe()
        assert(clean.count() > 0, s"${f.name}: a clean probe emitted nothing — gate vacuous")
        graft.CacheUtil.release(clean)
        f.append.foreach { append =>
          val lock = CompactLock.forTable(spark, f.locked)
          val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
          CompactLock.acquire(fs, lock)
          try pinsNothing(f, "append") {
            val e = intercept[IllegalStateException](append())
            assert(e.getMessage.contains("compaction"), s"${f.name}/append: wrong error ${e.getMessage}")
          } finally CompactLock.releaseIfCanonical(fs, lock, canonicalPresent = true)
        }
        spark.sql(s"DROP TABLE `${f.dropped}`")
        pinsNothing(f, "probe") {
          intercept[org.apache.spark.sql.AnalysisException](f.probe())
        }
      } finally f.tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("a fold whose ledger read throws releases its overlapped signature checkpoints") {
    import graft.operators.Dedup
    // The MinHash fold reads its ledger on one driver thread while two
    // others checkpoint the delta banding and shingle sets. With the
    // shingle table gone the ledger thunk throws after its siblings
    // succeeded; their checkpoints must be released, not dropped.
    val (base, other) = rpTexts
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val idx = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "ov_mh", buckets = 4)
    try {
      spark.sql(s"DROP TABLE `${idx.shingleTable}`")
      val delta = Seq((10L, base)).toDF("doc_id", "text").localCheckpoint(true)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      intercept[org.apache.spark.sql.AnalysisException](
        Dedup.minHashNearDupsIncrementalFold(delta, "text", "doc_id", 0.4, idx))
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"a failed ledger thunk left ${leaked.size} sibling checkpoints pinned")
      graft.CacheUtil.release(delta)
    } finally
      Seq(idx.bandTable, idx.shingleTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("fold loop compiles its generated code once: a third same-shape micro-batch through the minhash and simhash folds compiles no class") {
    import graft.operators.Dedup
    // Whole-stage codegen compiles each plan shape once per JVM only
    // while Spark's generated-class cache holds the whole cycle of
    // classes a micro-batch needs; an LRU smaller than the cycle evicts
    // every class before its next use and recompiles all of them in every
    // micro-batch. Three deltas of one shape (a copy of a corpus doc, an
    // in-batch twin pair, a fresh doc) fold through both folds: the
    // first two warm the cache, the third must compile nothing.
    def words(tag: String) = (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    val corpus = (1 to 4).map(i => (i.toLong, words(s"c$i"))).toDF("doc_id", "text")
    val deltas = (1 to 3).map { b =>
      val base = 100L * b
      Seq((base + 1, words(s"c$b")), (base + 2, words(s"t$b")), (base + 3, words(s"t$b")),
        (base + 4, words(s"f$b"))).toDF("doc_id", "text").localCheckpoint(true)
    }
    def pairs(df: DataFrame): Set[(Long, Long)] = {
      val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.CacheUtil.release(df); s
    }
    val mh = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "cg_mh", buckets = 4)
    val sh = Dedup.writeSimHashIndex(corpus, "text", "doc_id", "cg_sh", buckets = 4)
    try {
      val perBatch = deltas.zipWithIndex.map { case (d, i) =>
        val c0 = Observability.codegenCompiles()
        val b = 100L * (i + 1)
        val want = Set((i + 1L, b + 1), (b + 2, b + 3))
        assert(pairs(Dedup.minHashNearDupsIncrementalFold(d, "text", "doc_id", 0.4, mh)) === want,
          s"micro-batch ${i + 1}: minhash pairs")
        assert(pairs(Dedup.simHashNearDupsIncrementalFold(d, "text", "doc_id", sh)) === want,
          s"micro-batch ${i + 1}: simhash pairs")
        Observability.codegenCompiles() - c0
      }
      assert(perBatch(2) === 0L,
        s"the third micro-batch recompiled generated code (compiles per micro-batch: $perBatch)")
      assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
        Cluster.CodegenCacheEntries.toString)
      // the counter is live: a class no earlier query can have compiled
      val c0 = Observability.codegenCompiles()
      spark.range(4).select(col("id") + lit(System.nanoTime())).collect()
      assert(Observability.codegenCompiles() > c0, "codegenCompiles missed a fresh class")
    } finally {
      deltas.foreach(graft.CacheUtil.release)
      Seq(mh.bandTable, mh.shingleTable, sh.chunkTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  // ------------------- committed replay short-circuit -------------------
  // A replay of a micro-batch whose appends all committed must cost a
  // ledger read, not a second fold: ReplaySafe.committed proves it from
  // the ledger checkpoint, and the fold then emits an empty frame of the
  // slow path's schema without probing or appending.

  /** Runs `fold` once as a first attempt, then replays it with a
    * recording sink: the replay must return and sink one empty frame of
    * the first attempt's schema, leave `counts` unchanged, and run at
    * most `maxJobs` Spark jobs. Returns the replay's job count.
    */
  private def committedReplayGate(
      family: String,
      counts: () => Seq[Long],
      maxJobs: Int)(fold: Option[DataFrame => Unit] => DataFrame): Int = {
    val first = fold(None)
    val schema = first.schema
    val emitted = first.count()
    graft.CacheUtil.release(first)
    assert(emitted > 0L, s"$family: first attempt emitted nothing — gate vacuous")
    val rows = counts()
    val sunk = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val (out, jobs) = JobCount.during(spark)(fold(Some(sunk += _)))
    assert(jobs <= maxJobs, s"$family: committed replay ran $jobs jobs — the slow path?")
    assert(out.schema === schema, s"$family: replay schema ${out.schema} != first attempt's $schema")
    assert(out.count() === 0L, s"$family: committed replay emitted rows")
    assert(sunk.size === 1, s"$family: sink called ${sunk.size} times")
    assert(sunk.head.schema === schema && sunk.head.count() === 0L,
      s"$family: sink got a non-empty or differently shaped frame")
    assert(counts() === rows, s"$family: replay changed the index")
    graft.CacheUtil.release(out)
    jobs
  }

  test("committed replay short-circuits: empty output of the first attempt's schema, one sink call, no index change, ≤ 6 jobs (minhash, simhash 64/128/combo)") {
    import graft.operators.Dedup
    val (base, other) = rpTexts
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val delta = Seq((10L, base), (11L, base),
      (12L, "completely fresh words nothing shared here at all right now")
    ).toDF("doc_id", "text").localCheckpoint(true)
    def tables(ts: String*)(): Seq[Long] = ts.map(spark.table(_).count())
    val mh = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "cr_mh", buckets = 4)
    val s64 = Dedup.writeSimHashIndex(corpus, "text", "doc_id", "cr_s64", buckets = 4)
    val s128 = Dedup.writeSimHash128Index(corpus, "text", "doc_id", "cr_s128", buckets = 4)
    val cb = Dedup.writeSimHashComboIndex(
      corpus, "text", "doc_id", "cr_cb", maxHamming = 3, blocks = 6, buckets = 4)
    try {
      committedReplayGate("minhash", tables(mh.bandTable, mh.shingleTable), 6)(
        Dedup.minHashNearDupsIncrementalFold(delta, "text", "doc_id", 0.4, mh, _))
      for ((kind, i) <- Seq("s64" -> s64, "s128" -> s128, "cb" -> cb))
        committedReplayGate(kind, tables(i.chunkTable), 6)(
          Dedup.simHashNearDupsIncrementalFold(delta, "text", "doc_id", i, _))
    } finally {
      graft.CacheUtil.release(delta)
      Seq(mh.bandTable, mh.shingleTable, s64.chunkTable, s128.chunkTable, cb.chunkTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("committed replay short-circuits for vector-LSH and semDedup: empty output, one sink call, no index change, a job bound below the slow path's") {
    import graft.operators.Similarity
    // The job bounds are this fixture's measured replay counts (6 and 8);
    // the slow path ran the same replays in more jobs (CHANGES.md).
    def vecRow(id: Long, x: Float) = (id, Array(x, 1f, 0.5f, -0.25f))
    val corpus = Seq(vecRow(1L, 1f), vecRow(2L, -8f), vecRow(3L, -7.5f)).toDF("vec_id", "embedding")
    val delta = Seq(vecRow(10L, 1f), vecRow(11L, 1f), vecRow(12L, -0.5f))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val lsh = Similarity.writeLshIndex(
      corpus, "embedding", "vec_id", "cr_lsh", nPlanes = 4, dim = 4, nTables = 2, buckets = 4)
    val built = Similarity.ivfBuild(corpus, "embedding", "vec_id", nCentroids = 2, refineIters = 1)
    val ivfDir = java.nio.file.Files.createTempDirectory("cr_ivf").toString
    Similarity.ivfWrite(built, ivfDir)
    graft.CacheUtil.release(built.assigned)
    try {
      committedReplayGate("vector-lsh",
        () => Seq(lsh.bandTable, lsh.vecTable).map(spark.table(_).count()), 6)(
        Similarity.lshNearDupsIncrementalFold(delta, "embedding", "vec_id", 0.95, lsh, _))
      committedReplayGate("semdedup",
        () => Seq(spark.read.parquet(s"$ivfDir/lists").count()), 8)(s =>
        Similarity.semDedupPairsIncrementalFold(
          spark, delta, ivfDir, "embedding", "vec_id", threshold = 0.95, sink = s))
    } finally {
      graft.CacheUtil.release(delta)
      Seq(lsh.bandTable, lsh.vecTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("committed replay short-circuits for the line catalogue: empty output, one sink call, no index change, a job bound below the slow path's") {
    import graft.operators.Lines
    // The bound is this fixture's measured replay count, below the slow
    // path's (a probe, a recount and an append on every replay).
    val corpus = Seq((1L, "shared banner line\nalpha"), (2L, "shared banner line\nbeta"))
      .toDF("doc_id", "text")
    val delta = Seq((10L, "shared banner line\ngamma"), (11L, "fresh words\nonly here"))
      .toDF("doc_id", "text").localCheckpoint(true)
    val idx = Lines.writeLineIndex(corpus, "text", "doc_id", "cr_lines", buckets = 4)
    try {
      val jobs = committedReplayGate("lines", () => Seq(spark.table(idx.fpTable).count()), 8)(
        Lines.dropDuplicatedLinesIncrementalFold(delta, "text", "doc_id", idx, 2, _))
      info(s"committed replay: $jobs jobs")
    } finally {
      graft.CacheUtil.release(delta)
      spark.sql(s"DROP TABLE IF EXISTS `${idx.fpTable}`")
    }
  }

  test("replay under an ACTIVE cap keeps the slow path and converges (a doc capped out of its bands / keys)") {
    import graft.operators.{Dedup, ReplaySafe}
    // maxBucket = 2 and two identical corpus docs fill every bucket the
    // delta's twin (id 10) hashes into: it stores shingles but no band
    // rows, and no SimHash key rows. The fresh doc 12 stores everything,
    // so the replay's ledger is non-empty but NOT committed — the fold
    // must take the slow path, emit nothing and append nothing, and the
    // index must still ingest like one that never saw the replay.
    val (base, _) = rpTexts
    val corpus = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val fresh = "completely fresh words nothing shared here at all right now"
    val delta = Seq((10L, base), (12L, fresh)).toDF("doc_id", "text").localCheckpoint(true)
    val d2 = Seq((20L, fresh)).toDF("doc_id", "text").localCheckpoint(true)
    def pairs(df: DataFrame): Set[(Long, Long)] = {
      val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.CacheUtil.release(df); s
    }
    def ledgerCommitted(l: ReplaySafe.Ledger, keysPerDoc: Option[Int]*): Boolean =
      try ReplaySafe.committed(l, keysPerDoc: _*) finally graft.CacheUtil.release(l.tagged)
    val mh = Seq("a", "b").map(n =>
      Dedup.writeMinHashIndex(corpus, "text", "doc_id", s"cap_mh_$n", buckets = 4, maxBucket = 2))
    val sh = Seq("a", "b").map(n =>
      Dedup.writeSimHashIndex(corpus, "text", "doc_id", s"cap_sh_$n", buckets = 4, maxBucket = 2))
    try {
      mh.foreach(i => pairs(Dedup.minHashNearDupsIncrementalFold(delta, "text", "doc_id", 0.4, i)))
      sh.foreach(i => pairs(Dedup.simHashNearDupsIncrementalFold(delta, "text", "doc_id", i)))
      assert(spark.table(mh(0).bandTable).filter($"_id" === 10L).count() === 0L &&
        spark.table(sh(0).chunkTable).filter($"_id" === 10L).count() === 0L,
        "doc 10 was not capped out — fixture vacuous")
      assert(!ledgerCommitted(ReplaySafe.ledgerRead(delta, "doc_id",
        ReplaySafe.LedgerTable(spark.table(mh(0).shingleTable), "_sid"),
        ReplaySafe.LedgerTable(spark.table(mh(0).bandTable), "_id", Some("_band" -> mh(0).bands))),
        None, Some(mh(0).bands)))
      val nKeys = sh(0).keys.subsets.length
      assert(!ledgerCommitted(ReplaySafe.ledgerRead(delta, "doc_id",
        ReplaySafe.LedgerTable(spark.table(sh(0).chunkTable), "_id", Some("_chunk" -> nKeys))),
        Some(nKeys)))
      val mhRows = Seq(mh(0).bandTable, mh(0).shingleTable).map(spark.table(_).count())
      val shRows = spark.table(sh(0).chunkTable).count()
      val (mhOut, mhJobs) = JobCount.during(spark)(pairs(
        Dedup.minHashNearDupsIncrementalFold(delta, "text", "doc_id", 0.4, mh(0))))
      val (shOut, shJobs) = JobCount.during(spark)(pairs(
        Dedup.simHashNearDupsIncrementalFold(delta, "text", "doc_id", sh(0))))
      assert(mhJobs > 6 && shJobs > 6, s"capped replay short-circuited ($mhJobs, $shJobs jobs)")
      assert(mhOut.isEmpty && shOut.isEmpty, s"capped replay re-emitted $mhOut $shOut")
      assert(Seq(mh(0).bandTable, mh(0).shingleTable).map(spark.table(_).count()) === mhRows,
        "capped minhash replay changed the index")
      assert(spark.table(sh(0).chunkTable).count() === shRows, "capped simhash replay changed the index")
      val mhNext = mh.map(i => pairs(Dedup.minHashNearDupsIncrementalFold(d2, "text", "doc_id", 0.4, i)))
      val shNext = sh.map(i => pairs(Dedup.simHashNearDupsIncrementalFold(d2, "text", "doc_id", i)))
      assert(mhNext(0) === mhNext(1) && mhNext(0).contains((12L, 20L)),
        s"replayed minhash index diverged: $mhNext")
      assert(shNext(0) === shNext(1) && shNext(0).contains((12L, 20L)),
        s"replayed simhash index diverged: $shNext")
    } finally {
      graft.CacheUtil.release(delta)
      graft.CacheUtil.release(d2)
      (mh.flatMap(i => Seq(i.bandTable, i.shingleTable)) ++ sh.map(_.chunkTable))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("ReplaySafe.committed on hand-built ledgers: distinct in-range keys per id, every table, every id") {
    import graft.operators.ReplaySafe
    // rows: (_rid, _k, _t) — _t 0/1 = seen in table A/B, 2 = delta id
    def ledger(tables: Int, rows: Seq[(Option[Long], Option[Int], Int)]): ReplaySafe.Ledger =
      ReplaySafe.Ledger(rows.toDF("_rid", "_k", "_t"), tables)
    def ids(xs: Long*) = xs.map(x => (Option(x), Option.empty[Int], 2))
    def inA(xs: Long*) = xs.map(x => (Option(x), Option.empty[Int], 0))
    def keysB(x: Long, ks: Int*) = ks.map(k => (Option(x), Option(k), 1))
    // two-table form: A one row per id, B keys [0, 4)
    def two(rows: Seq[(Option[Long], Option[Int], Int)]) =
      ReplaySafe.committed(ledger(2, rows), None, Some(4))
    val whole = ids(1L, 2L) ++ inA(1L, 2L) ++ keysB(1L, 0, 1, 2, 3) ++ keysB(2L, 3, 2, 1, 0)
    assert(two(whole), "a fully folded batch read as not committed")
    assert(two(whole ++ keysB(1L, 0, 1)), "duplicate rows of a complete id broke the check")
    assert(!two(ids(1L, 2L) ++ inA(1L, 2L) ++ keysB(1L, 0, 1, 2, 3) ++ keysB(2L, 0, 1, 2, 2)),
      "duplicate rows hid a missing key")
    assert(!two(ids(1L, 2L) ++ inA(1L, 2L) ++ keysB(1L, 0, 1, 2, 3) ++ keysB(2L, 0, 1, 2, 7)),
      "a key outside [0, keysPerDoc) stood in for a missing one")
    assert(!two(ids(1L, 2L) ++ inA(1L, 2L) ++ keysB(1L, 0, 1, 2, 3) ++ keysB(2L, -1, 0, 1, 2)),
      "a negative key stood in for a missing one")
    assert(!two(ids(1L, 2L) ++ inA(1L) ++ keysB(1L, 0, 1, 2, 3) ++ keysB(2L, 0, 1, 2, 3)),
      "an id missing from the one-row-per-id table read as committed")
    assert(!two(whole ++ ids(3L)), "an unseen delta id read as committed")
    assert(!two(whole ++ Seq((Option.empty[Long], Option.empty[Int], 2))),
      "a NULL delta id read as committed")
    // one-table form (SimHash): keys [0, 3)
    val one = ids(5L) ++ keysB(5L, 0, 1, 2).map { case (r, k, _) => (r, k, 0) }
    assert(ReplaySafe.committed(ledger(1, one), Some(3)))
    assert(!ReplaySafe.committed(ledger(1, one), Some(4)))
    intercept[IllegalArgumentException](ReplaySafe.committed(ledger(1, one), None, Some(3)))
  }

  // ------------------- sink half of exactly-once (IdempotentSink) -------------------
  // ReplaySafe makes the INDEX idempotent; these gates prove the
  // emission-persistence half: the fold's `sink` callback commits the
  // emissions durably BEFORE the replay ledger can suppress them, and
  // IdempotentSink's first-write-wins protocol makes a replayed batch
  // unable to erase or duplicate what a prior attempt committed.

  test("IdempotentSink: first write wins, empty batches commit, staging litter is swept") {
    import graft.operators.IdempotentSink
    val dir = java.nio.file.Files.createTempDirectory("rp_sink").toString
    val a = Seq((1L, 10L)).toDF("id_a", "id_b")
    val b = Seq((2L, 20L)).toDF("id_a", "id_b")
    assert(IdempotentSink.writeBatch(a, dir, 0L), "first write must commit")
    assert(!IdempotentSink.writeBatch(b, dir, 0L), "second write must skip")
    val kept = IdempotentSink.read(spark, dir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(kept === Seq((1L, 10L)), "a later write clobbered a committed batch")
    // empty emission frames commit too — the store doubles as a
    // per-batch progress ledger
    assert(IdempotentSink.writeBatch(a.limit(0), dir, 1L))
    assert(IdempotentSink.committedBatches(spark, dir) === Seq(0L, 1L))
    assert(IdempotentSink.read(spark, dir).count() === 1L)
    assert(!IdempotentSink.writeBatch(b, dir, 1L),
      "an empty committed batch must still win over a replay")
    // crashed-attempt staging litter is reclaimed by the next attempt
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, ".staging-2-deadbeef"))
    assert(IdempotentSink.writeBatch(b, dir, 2L))
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .exists(_.getPath.getName.startsWith(".staging-")), "staging litter not swept")
    assert(IdempotentSink.read(spark, dir).count() === 2L)
    // the partition key is the sink's to add
    intercept[IllegalArgumentException] {
      IdempotentSink.writeBatch(a.withColumn("batch_id", lit(9L)), dir, 3L)
    }
  }

  test("IdempotentSink manifest mode: the marker is the commit point; a torn marker-less dir is invisible and healed") {
    import graft.operators.IdempotentSink
    import IdempotentSink.CommitMode
    // the object-store protocol (no atomic directory rename): parquet
    // files land in the target dir and a single _committed-<k> marker
    // object, PUT last, is the batch's commit point. Forced explicitly
    // here — the local fs auto-resolves to Rename.
    val dir = java.nio.file.Files.createTempDirectory("rp_sink_mf").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val a = Seq((1L, 10L)).toDF("id_a", "id_b")
    val b = Seq((2L, 20L)).toDF("id_a", "id_b")
    def stored(): Set[(Long, Long)] =
      IdempotentSink.read(spark, dir, CommitMode.Manifest)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(IdempotentSink.writeBatch(a, dir, 0L, CommitMode.Manifest), "first write must commit")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "_committed-0")), "marker not written")
    assert(!IdempotentSink.writeBatch(b, dir, 0L, CommitMode.Manifest), "first MARKER must win")
    assert(stored() === Set((1L, 10L)), "a replay clobbered a committed batch")
    // CRASH WINDOW: batch 1's parquet files landed but the crash hit
    // before the marker PUT — the torn dir must be invisible to the
    // ledger and the reader both
    b.write.parquet(s"$dir/batch_id=1")
    assert(IdempotentSink.committedBatches(spark, dir, CommitMode.Manifest) === Seq(0L),
      "a marker-less dir counted as committed")
    assert(stored() === Set((1L, 10L)), "a marker-less dir was readable")
    // …and the retry commits ITS OWN complete file set; the torn
    // leftovers stay on disk but are manifest-unlisted, so no reader
    // ever serves them (the retry never deletes — a delete could hit a
    // live concurrent writer's in-flight files)
    val c = Seq((3L, 30L)).toDF("id_a", "id_b")
    assert(IdempotentSink.writeBatch(c, dir, 1L, CommitMode.Manifest),
      "retry of a torn batch must commit")
    assert(IdempotentSink.committedBatches(spark, dir, CommitMode.Manifest) === Seq(0L, 1L))
    assert(stored() === Set((1L, 10L), (3L, 30L)),
      "the healed batch must hold the retry's rows, not the torn leftovers")
    assert(IdempotentSink.read(spark, dir, CommitMode.Manifest).columns.contains("batch_id"),
      "partition-column discovery lost under the explicit-dir read")
    // empty batches commit here too (the store is the progress ledger)
    assert(IdempotentSink.writeBatch(a.limit(0), dir, 2L, CommitMode.Manifest))
    assert(IdempotentSink.committedBatches(spark, dir, CommitMode.Manifest) === Seq(0L, 1L, 2L))
    assert(stored() === Set((1L, 10L), (3L, 30L)))
    assert(!IdempotentSink.writeBatch(b, dir, 2L, CommitMode.Manifest),
      "an empty committed batch must still win over a replay")
    // TORN MARKER: a crash between the marker's create and its close
    // leaves a tag-less body — it must read as NOT committed (counting
    // it would silently lose the batch: retries would skip forever)
    // and the retry must heal it by recommitting
    val torn = new org.apache.hadoop.fs.Path(dir, "_committed-3")
    val out = fs.create(torn, false)
    out.write("batch 3 committed 2026-01-01T00:00:00Z\n".getBytes("UTF-8"))
    out.close() // complete write, but NO manifest-v2 tag = torn shape
    assert(IdempotentSink.committedBatches(spark, dir, CommitMode.Manifest) === Seq(0L, 1L, 2L),
      "a torn (tag-less) marker counted as committed")
    val e4 = Seq((4L, 40L)).toDF("id_a", "id_b")
    assert(IdempotentSink.writeBatch(e4, dir, 3L, CommitMode.Manifest),
      "retry of a torn-marker batch must heal and commit")
    assert(IdempotentSink.committedBatches(spark, dir, CommitMode.Manifest) === Seq(0L, 1L, 2L, 3L))
    assert(stored() === Set((1L, 10L), (3L, 30L), (4L, 40L)),
      "the healed batch must serve the retry's manifest-listed rows")
    // a store with no committed batches reads as a loud error, not a
    // confusing parquet schema failure
    val none = java.nio.file.Files.createTempDirectory("rp_sink_mf0").toString
    a.write.parquet(s"$none/batch_id=0") // torn: no marker
    val err = intercept[IllegalArgumentException] {
      IdempotentSink.read(spark, none, CommitMode.Manifest)
    }
    assert(err.getMessage.contains("no committed batches"))
  }

  test("IdempotentSink manifest mode: concurrent duplicate writers of one batch can neither tear nor double it; the loser yields") {
    import graft.operators.IdempotentSink
    import IdempotentSink.CommitMode
    // the r15 advice scenario: a zombie driver re-running a batch id
    // concurrently with the live retry. Both writers pass the
    // marker-absence check (they start together), both write their
    // attempt-unique files, and exactly one marker PUT wins. The
    // committed batch must be EXACTLY one attempt's complete frame —
    // never a mix, never the union — and the loser must RETURN false
    // (the old protocol threw FileAlreadyExistsException out of
    // writeBatch and let the loser's delete(target) clobber the
    // winner's in-progress files).
    val dir = java.nio.file.Files.createTempDirectory("rp_sink_race").toString
    val rowsA = Set((1L, 10L), (2L, 20L))
    val rowsB = Set((3L, 30L), (4L, 40L))
    for (k <- 0L to 4L) {
      val a = rowsA.toSeq.toDF("id_a", "id_b")
      val b = rowsB.toSeq.toDF("id_a", "id_b")
      val gate = new java.util.concurrent.CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val errors = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val threads = Seq(a, b).map { df =>
        new Thread(() => {
          gate.await()
          try { results.add(IdempotentSink.writeBatch(df, dir, k, CommitMode.Manifest)); () }
          catch { case e: Throwable => errors.set(e) }
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      assert(errors.get() == null,
        s"batch $k: a duplicate writer threw instead of yielding: ${errors.get()}")
      import scala.jdk.CollectionConverters._
      assert(results.asScala.count(identity) === 1,
        s"batch $k: ${results.asScala.count(identity)} writers claimed the commit")
      val served = IdempotentSink.read(spark, dir, CommitMode.Manifest)
        .filter(col("batch_id") === k)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(served === rowsA || served === rowsB,
        s"batch $k: served rows are not one attempt's whole frame: $served")
    }
  }

  test("sink half end-to-end: minhash fold + IdempotentSink across the crash windows") {
    import graft.operators.{Dedup, IdempotentSink}
    val (base, other) = rpTexts
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val d0 = Seq((10L, base)).toDF("doc_id", "text").localCheckpoint(true)
    val d1 = Seq((11L, base)).toDF("doc_id", "text").localCheckpoint(true)
    val idx = Dedup.writeMinHashIndex(corpus, "text", "doc_id", "rp_snk", buckets = 4)
    val dir = java.nio.file.Files.createTempDirectory("rp_snk").toString
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
      val s = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      graft.CacheUtil.release(df); s
    }
    try {
      // batch 0 — crash AFTER the sink commit, BEFORE the appends: the
      // retry's fold finds batch 0 already committed (its sink call
      // skips) and completes the appends
      val pre = Dedup.minHashNearDupsIncremental(d0, "text", "doc_id", 0.4, idx)
      assert(IdempotentSink.writeBatch(pre, dir, 0L))
      graft.CacheUtil.release(pre)
      val out0 = pairs(Dedup.minHashNearDupsIncrementalFold(
        d0, "text", "doc_id", 0.4, idx, sink = Some(IdempotentSink.batchWriter(dir, 0L))))
      assert(out0 === Seq((1L, 10L)))
      // batch 1 — the clean path, then a FULL replay (crash after both
      // the sink commit and the appends, before the offset commit): the
      // replay emits nothing and must NOT disturb the committed batch
      val out1 = pairs(Dedup.minHashNearDupsIncrementalFold(
        d1, "text", "doc_id", 0.4, idx, sink = Some(IdempotentSink.batchWriter(dir, 1L))))
      assert(out1 === Seq((1L, 11L), (10L, 11L)))
      assert(pairs(Dedup.minHashNearDupsIncrementalFold(
        d1, "text", "doc_id", 0.4, idx, sink = Some(IdempotentSink.batchWriter(dir, 1L))))
        .isEmpty, "replay re-emitted")
      assert(IdempotentSink.committedBatches(spark, dir) === Seq(0L, 1L))
      val persisted = IdempotentSink.read(spark, dir)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(persisted === (out0 ++ out1).sorted,
        "the sink store must hold exactly the union of first-attempt emissions")
    } finally {
      graft.CacheUtil.release(d0)
      graft.CacheUtil.release(d1)
      Seq(idx.bandTable, idx.shingleTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("sink half: exact fold's NULL-text replay niche cannot clobber a committed batch") {
    import graft.operators.{Dedup, IdempotentSink}
    // the exact family's replay is NOT fully suppressing: NULL-text rows
    // carry no fingerprint, so a replayed batch re-derives its NULL-text
    // keepers. Under overwrite-by-batch semantics that partial
    // re-derivation would REPLACE the committed full emission set;
    // first-write-wins preserves it — this is the scenario that fixes
    // the sink's semantics.
    val eIdx = Dedup.writeExactDedupIndex(
      Seq((1L, "alpha")).toDF("doc_id", "text"), "text", "rp_exsnk", buckets = 4)
    val delta = Seq((10L, "fresh"), (11L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("rp_exsnk").toString
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      val s = df.select("doc_id").collect().map(_.getLong(0)).toSet
      graft.CacheUtil.release(df); s
    }
    try {
      val w = Some(IdempotentSink.batchWriter(dir, 0L))
      assert(ids(Dedup.exactDedupIncrementalFold(delta, "text", "doc_id", eIdx, w))
        === Set(10L, 11L))
      // the replay re-emits ONLY the NULL-text keeper…
      assert(ids(Dedup.exactDedupIncrementalFold(delta, "text", "doc_id", eIdx, w))
        === Set(11L))
      // …but the committed batch keeps the full first-attempt set
      assert(IdempotentSink.read(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(10L, 11L),
        "replay's partial re-derivation clobbered the committed emissions")
    } finally {
      graft.CacheUtil.release(delta)
      spark.sql(s"DROP TABLE IF EXISTS `${eIdx.fpTable}`")
    }
  }

  test("streaming SQ8 ingest == batch build+append: identical table and probe (st13 gate)") {
    import graft.operators.Quantization
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select(col("vec_id"), col("embedding"))
    // batch twin: train on tertile 0, fold 1 and 2 in under frozen params
    val bidx = Quantization.writeSq8Index(
      emb.filter(pmod(col("vec_id"), lit(3)) === 0),
      "embedding", "vec_id", "sq8_gate_batch_twin")
    try {
      Seq(1, 2).foreach(k =>
        Quantization.appendToSq8Index(
          emb.filter(pmod(col("vec_id"), lit(3)) === k),
          "embedding", "vec_id", bidx))
      // the streaming form (the registry row: three micro-batches
      // through foreachBatch on the cloned session)
      val streamed = SparkEntry.queries("st13_stream_sq8")(spark, SparkTestSession.sfDir)
        .collect()
        .sortBy(_.getInt(1))
        .map(r => (r.getLong(0), r.getInt(1), r.getAs[Long]("sdc_l2")))
        .toSeq
      val qv = emb
        .filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0).toArray
      val batch = Quantization
        .sq8TopKIndexed(spark, bidx, qv, k = 100, excludeId = Some(0L))
        .collect()
        .sortBy(_.getInt(1))
        .map(r => (r.getLong(0), r.getInt(1), r.getAs[Long]("sdc_l2")))
        .toSeq
      assert(streamed === batch)
      // the two tables hold the identical (id, codes) row set
      def rowSet(t: String) = {
        spark.catalog.refreshTable(t)
        spark.table(t).collect()
          .map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
      }
      assert(rowSet("st13_idx_codes") === rowSet("sq8_gate_batch_twin_codes"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS sq8_gate_batch_twin_codes")
      spark.sql("DROP TABLE IF EXISTS st13_idx_codes")
    }
  }

  test("ivfSq8SemanticDedupFold: replay admits nothing and probes stay stable; admission order drives later fates (st17 gate)") {
    import graft.operators.Quantization
    val emb = Tables.embeddings(spark, SparkTestSession.sfDir)
      .select($"vec_id", $"embedding")
    val path = s"${SparkTestSession.tmpRoot}/st17_fold_gate"
    Quantization.ivfSq8Build(
      emb.filter(pmod($"vec_id", lit(3)) === 0),
      "embedding", "vec_id", path, nCentroids = 8)
    def plant(newId: Long, ofId: Long) = emb
      .filter($"vec_id" === ofId)
      .select(lit(newId).as("vec_id"), $"embedding")
    // chunk 1 carries an exact dup of an INDEXED row (must be rejected)
    // and a copy of a chunk-2 row whose original arrives LATER (must be
    // admitted, and must then block its own original)
    val c1 = emb.filter(pmod($"vec_id", lit(3)) === 1)
      .unionByName(plant(4200001L, 0L))
      .unionByName(plant(4200004L, 2L))
    val ids1 = Quantization.ivfSq8SemanticDedupFold(
      spark, c1, path, "embedding", "vec_id", tau = 0L, nProbe = 8)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(!ids1.contains(4200001L), "exact dup of an indexed row admitted")
    assert(ids1.contains(4200004L), "novel plant rejected")
    val countAfter1 = spark.read.parquet(s"$path/codes").count()
    val qv = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>")).head.getSeq[Double](0).toArray
    def probeRows() = Quantization
      .ivfSq8Search(spark,
        Quantization.ivfSq8Read(spark, path, "vec_id"), qv, k = 50, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[Long]("sdc_l2"))).toSeq
    val probeBefore = probeRows()
    // REPLAY the whole micro-batch (the at-least-once foreachBatch
    // case): every first-attempt admission meets its own copy at SDC 0
    // and drops at the threshold — nothing returned, nothing appended,
    // probes bit-identical
    val replayed = Quantization.ivfSq8SemanticDedupFold(
      spark, c1, path, "embedding", "vec_id", tau = 0L, nProbe = 8)
    assert(replayed.count() === 0L, "replayed delta re-admitted rows")
    assert(spark.read.parquet(s"$path/codes").count() === countAfter1,
      "replayed delta appended rows")
    assert(probeRows() === probeBefore, "replay changed probe results")
    // chunk 2: the ORIGINAL of the admitted plant must now be rejected —
    // admission order changed its fate (the recursion a non-sequential
    // replay would get wrong)
    val ids2 = Quantization.ivfSq8SemanticDedupFold(
      spark, emb.filter(pmod($"vec_id", lit(3)) === 2),
      path, "embedding", "vec_id", tau = 0L, nProbe = 8)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(!ids2.contains(2L),
      "the original of an admitted plant was re-admitted")
  }

  test("drain's watermark parse: expected not-yet shapes are quiet, a format change is LOUD") {
    // r18 verdict "what's wrong" #3: the old catch treated ANY
    // RuntimeException as "not reached", so a Spark progress-format
    // change would spin drain to its 60 s timeout with a message naming
    // the threshold but not the parse failure
    val t = Timestamp.valueOf("2024-01-01 02:00:00")
    // pre-first-watermark progress reports: genuinely not reached
    assert(!Streams.watermarkReached("null", t))
    assert(!Streams.watermarkReached("", t))
    assert(!Streams.watermarkReached(null, t))
    // real ISO instants compare against the threshold
    assert(!Streams.watermarkReached("2024-01-01T01:59:59.000Z", t))
    assert(Streams.watermarkReached("2024-01-01T02:00:00.000Z", t))
    assert(Streams.watermarkReached("2024-01-01T05:00:00.000Z", t))
    // a malformed watermark string must fail loudly, naming the value
    val e = intercept[IllegalStateException] {
      Streams.watermarkReached("2024-01-01 02:00:00", t) // no 'T'/zone: not ISO-8601
    }
    assert(e.getMessage.contains("2024-01-01 02:00:00"))
    assert(e.getMessage.contains("unparseable watermark"))
  }

  test("withFastNoDataProgress restores the previous session conf (no cross-query leak)") {
    // r18 ADVICE #3: st14/st16 used to set the 250 ms interval on the
    // shared session and never restore it, so every later streaming
    // query in the JVM inherited 40x more frequent progress reporting
    val key = "spark.sql.streaming.noDataProgressEventInterval"
    val before = spark.conf.getOption(key)
    try {
      // unset -> the effective value returns to the pre-call one
      // (getOption surfaces the SQL-conf default when unset, so the
      // restore path writes back an equivalent value)
      spark.conf.unset(key)
      val effectiveBefore = spark.conf.getOption(key)
      Streams.withFastNoDataProgress(spark) {
        assert(spark.conf.get(key) === "250")
      }
      assert(spark.conf.getOption(key) === effectiveBefore)
      // explicit previous value -> restored exactly, even if body throws
      spark.conf.set(key, "7777")
      intercept[RuntimeException] {
        Streams.withFastNoDataProgress(spark) {
          assert(spark.conf.get(key) === "250")
          throw new RuntimeException("boom")
        }
      }
      assert(spark.conf.get(key) === "7777")
    } finally {
      before match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }
}
