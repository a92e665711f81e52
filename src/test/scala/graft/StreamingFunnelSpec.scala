package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.EventAnalytics
import graft.streaming.StreamingFunnel

/** Streamed funnel increments == the batch fold, over in-order
 * micro-batches — the same batch/streaming equivalence contract the
 * near-dup stream pins (RunnerSpec), plus the append-only slot rules. */
class StreamingFunnelSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val steps = Seq("A", "B", "C")

  test("streamed level increments match batch funnelLevels across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // three in-order micro-batches; conversions straddle batch boundaries
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), "A"),
      (2L, ts("2024-01-01 10:01:00"), "A"),
      (3L, ts("2024-01-01 10:02:00"), "B")) // B before any A: never counts
    val b2 = Seq((1L, ts("2024-01-01 10:30:00"), "B"),
      (2L, ts("2024-01-01 10:31:00"), "B"),
      (3L, ts("2024-01-01 10:32:00"), "A"))
    val b3 = Seq((1L, ts("2024-01-01 11:00:00"), "C"),
      (2L, ts("2024-01-01 23:00:00"), "C"), // outside the 2h window
      (3L, ts("2024-01-01 10:33:00"), "B"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val hits = StreamingFunnel.levels(
      in.toDS().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, windowSeconds = 7200L)
    val q = hits.writeStream.format("memory").queryName("sf")
      .outputMode("append").start()
    try {
      Seq(b1, b2, b3).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val got = spark.sql("select user, level from sf").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      // u1: A->B->C all within window; u2: stops at B; u3: A then B
      assert(got === Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (2L, 2),
        (3L, 1), (3L, 2)))
      // max streamed level per user == batch funnelLevels on the union
      val batch = EventAnalytics.funnelLevels(
        (b1 ++ b2 ++ b3).toDF("user_id", "ts", "event_type"),
        Seq("user_id"), "ts", "event_type", steps, 7200L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val streamedMax = got.groupBy(_._1).map { case (u, s) => u -> s.map(_._2).max.toLong }
      assert(streamedMax === batch.filter(_._2 > 0))
    } finally q.stop()
  }

  test("completed users never re-emit; levels are contiguous increments") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), "A"),
      (1L, ts("2024-01-01 10:10:00"), "B"),
      (1L, ts("2024-01-01 10:20:00"), "C"))
    // a fresh A AFTER completion must not restart the funnel
    val b2 = Seq((1L, ts("2024-01-02 10:00:00"), "A"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val hits = StreamingFunnel.levels(
      in.toDS().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, windowSeconds = 7200L)
    val q = hits.writeStream.format("memory").queryName("sf2")
      .outputMode("append").start()
    try {
      Seq(b1, b2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val got = spark.sql("select user, level from sf2").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      assert(got.toSet === Set((1L, 1), (1L, 2), (1L, 3)))
      assert(got.length === 3, "each level emits exactly once")
    } finally q.stop()
  }

  test("evictionWatermark: state evicts once the watermark passes " +
      "anchor + window; a returning user re-anchors; batch mode refuses") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // u1 anchors at 10:00, window 2h -> timeout armed for 12:00. u9's "B"
    // events (B before any A never fills a slot, stores no state) only
    // advance the watermark: batch N's watermark = max event time through
    // batch N-1, so the timeout fires while processing b3.
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), "A"),
      (1L, ts("2024-01-01 10:10:00"), "B"))
    val b2 = Seq((9L, ts("2024-01-01 13:00:00"), "B"))
    val b3 = Seq((9L, ts("2024-01-01 13:01:00"), "B"))
    // after eviction a fresh A re-anchors u1 and re-emits level 1 — the
    // documented production trade-off (the no-eviction mode keeps the
    // "never re-emit" contract of the test above)
    val b4 = Seq((1L, ts("2024-01-01 14:00:00"), "A"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val hits = StreamingFunnel.levels(
      in.toDS().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, windowSeconds = 7200L,
      evictionWatermark = Some("0 seconds"))
    val q = hits.writeStream.format("memory").queryName("sf3")
      .outputMode("append").start()
    try {
      Seq(b1, b2, b3, b4).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val got = spark.sql("select user, level, at_us from sf3").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      // b1: levels 1+2; b4 (post-eviction): level 1 again, fresh anchor
      assert(got.count(_ == (1L, 1)) === 2, s"got ${got.toSeq}")
      assert(got.count(_ == (1L, 2)) === 1)
      assert(got.length === 3)
    } finally q.stop()

    // batch input + eviction is a contract error, not a silent no-op
    val batch = Seq((1L, ts("2024-01-01 10:00:00"), "A"))
      .toDF("user_id", "ts", "event_type")
    intercept[IllegalArgumentException] {
      StreamingFunnel.levels(batch, "user_id", "ts", "event_type", steps,
        7200L, evictionWatermark = Some("0 seconds"))
    }
  }

  test("evictionWatermark: a stateful user's event after the watermark " +
      "passed anchor + window clamps the timeout instead of failing the query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // no idle batches: u1 keeps its state into the batch that carries its
    // late event, instead of an idle batch evicting it first
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(noData)
    spark.conf.set(noData, "false")
    // u1 anchors at 10:00 (window 2h, timeout 12:00); u9's "B" events
    // store no state and only advance the watermark
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), "A"),
      (1L, ts("2024-01-01 10:10:00"), "B"))
    val b2 = Seq((9L, ts("2024-01-01 13:00:00"), "B"))
    // watermark 13:00 > 12:00 while u1 still holds state
    val b3 = Seq((1L, ts("2024-01-01 13:01:00"), "C"))
    // watermark 13:01 passes the clamped timeout: u1 evicts here
    val b4 = Seq((9L, ts("2024-01-01 14:00:00"), "B"))
    val b5 = Seq((1L, ts("2024-01-01 15:00:00"), "A"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val hits = StreamingFunnel.levels(
      in.toDS().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, windowSeconds = 7200L,
      evictionWatermark = Some("0 seconds"))
    val q = hits.writeStream.format("memory").queryName("sf4")
      .outputMode("append").start()
    try {
      Seq(b1, b2, b3, b4, b5).foreach { b =>
        in.addData(b: _*); q.processAllAvailable() }
      val got = spark.sql("select user, level from sf4").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      // b1: levels 1+2; b3's C is outside the window; b5 re-anchors
      assert(got.count(_ == (1L, 1)) === 2, s"got ${got.toSeq}")
      assert(got.count(_ == (1L, 2)) === 1)
      assert(got.length === 3)
    } finally {
      q.stop()
      spark.conf.set(noData, prev)
    }
  }

  test("evictionWatermark on a TIMESTAMP_NTZ column fails up front, " +
      "naming the type") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, java.time.LocalDateTime, String)]
    val events = in.toDS().toDF("user_id", "ts", "event_type")
    val err = intercept[IllegalArgumentException] {
      StreamingFunnel.levels(events, "user_id", "ts", "event_type", steps,
        windowSeconds = 7200L, evictionWatermark = Some("0 seconds"))
    }
    assert(err.getMessage.contains("TIMESTAMP_NTZ") &&
      err.getMessage.contains("'ts'"), err.getMessage)
    // the no-eviction mode still takes NTZ
    val hits = StreamingFunnel.levels(events, "user_id", "ts", "event_type",
      steps, windowSeconds = 7200L)
    val q = hits.writeStream.format("memory").queryName("sf_ntz")
      .outputMode("append").start()
    try {
      in.addData((1L, java.time.LocalDateTime.parse("2024-01-01T10:00:00"), "A"),
        (1L, java.time.LocalDateTime.parse("2024-01-01T10:05:00"), "B"))
      q.processAllAvailable()
      val got = spark.sql("select user, level from sf_ntz").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got === Set((1L, 1), (1L, 2)))
    } finally q.stop()
  }

  test("a non-numeric user id is dropped under ANSI, not a query failure") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val events = Seq(("u123", ts("2024-01-01 10:00:00"), "A"),
        ("7", ts("2024-01-01 10:00:00"), "A"),
        ("7", ts("2024-01-01 10:05:00"), "B"))
        .toDF("user_id", "ts", "event_type")
      val got = StreamingFunnel.levels(events, "user_id", "ts", "event_type",
        steps, windowSeconds = 7200L).collect()
        .map(h => (h.user, h.level)).toSet
      assert(got === Set((7L, 1), (7L, 2)))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }
}
