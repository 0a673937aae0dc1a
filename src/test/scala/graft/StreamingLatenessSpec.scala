package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.EventsStream

/** Lateness / out-of-order torture for the q91/q92 windowed aggregations:
  * input replayed in NON-chronological arrival order with rows landing
  * beyond the 2 h watermark horizon. Asserts the documented close
  * condition from EventsStream — a window/session is final once its END ≤
  * watermark; rows whose window is already closed are dropped, rows whose
  * event time is below the watermark but whose window is still open are
  * merged — and reconciles the engine's own dropped-row accounting
  * (StateOperatorProgress.numRowsDroppedByWatermark) against the exact
  * rows the torture feed made late. This is the semantics a 100 TB/day
  * deployment actually debugs: "where did my late rows go, and does the
  * emitted aggregate equal batch-over-the-kept-rows?"
  */
class StreamingLatenessSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  private def droppedByWatermark(q: StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

  test("q91 torture: shuffled file waves, late beyond-horizon rows dropped and accounted") {
    val work = SparkSpec.tempDir("ooo_tumbling").toString
    val src = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"

    // Wave files are landed and drained ONE AT A TIME against the same
    // checkpoint, so arrival order is exactly wave order — which is NOT
    // event-time order: wave 3 carries rows older than wave 2's.
    val waves = Seq(
      // wave 1 — hour 10. Watermark after: 08:50.
      Seq(Ev(ts("2024-01-01T10:05:00Z"), 1, "click", 1.0),
          Ev(ts("2024-01-01T10:45:00Z"), 2, "click", 2.0),
          Ev(ts("2024-01-01T10:50:00Z"), 1, "view", 5.0)),
      // wave 2 — jumps to 13:30. Watermark after: 11:30 → hour-10 windows
      // (end 11:00 ≤ 11:30) close and emit.
      Seq(Ev(ts("2024-01-01T13:30:00Z"), 3, "click", 1.0)),
      // wave 3 — the torture: arrival order runs BACKWARD in event time.
      //  * 10:55 click — its window [10:00,11:00) closed at wm 11:30 → DROPPED;
      //  * 11:00 view — event time is BELOW the watermark (11:00 < 11:30)
      //    but its window [11:00,12:00) is still open (end 12:00 > 11:30)
      //    → MERGED: lateness is judged by the window, not the row;
      //  * 13:45 click — merges into the open hour-13 window.
      Seq(Ev(ts("2024-01-01T10:55:00Z"), 4, "click", 9.0),
          Ev(ts("2024-01-01T11:00:00Z"), 5, "view", 7.0),
          Ev(ts("2024-01-01T13:45:00Z"), 3, "click", 1.0)),
      // wave 4 — closer at 17:00. Watermark → 15:00: hour-11 and hour-13
      // windows close; the closer's own window stays open (never emits).
      Seq(Ev(ts("2024-01-01T17:00:00Z"), 6, "view", 0.0)))

    val schema = waves.head.toDF().schema
    var dropped = 0L
    waves.zipWithIndex.foreach { case (wave, i) =>
      wave.toDF().write.parquet(s"$src/w$i")
      val q = EventsStream.hourlyCounts(
          spark.readStream.schema(schema).parquet(s"$src/*"))
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append").format("parquet").option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      dropped += droppedByWatermark(q)
    }

    val emitted = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Timestamp]("window_start").toInstant.toString,
                 r.getAs[String]("event_type"), r.getAs[Long]("cnt"),
                 r.getAs[Double]("value_sum")))
      .toSet
    assert(emitted == Set(
      ("2024-01-01T10:00:00Z", "click", 2L, 3.0),  // 10:55 row NOT in here
      ("2024-01-01T10:00:00Z", "view", 1L, 5.0),
      ("2024-01-01T11:00:00Z", "view", 1L, 7.0),   // below-wm row WAS merged
      ("2024-01-01T13:00:00Z", "click", 2L, 2.0))) // OOO 13:45 row merged
    // the engine's own ledger agrees: exactly the one closed-window row
    assert(dropped == 1L)

    // oracle form of the close condition: batch groupBy over the kept
    // rows, restricted to windows with end ≤ final watermark (15:00)
    val kept = waves.flatten.toDF()
      .filter($"ts" =!= ts("2024-01-01T10:55:00Z")) // the dropped row
    val oracle = kept
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("cnt"), sum($"value").as("value_sum"))
      .filter($"w.end" <= ts("2024-01-01T15:00:00Z"))
      .select($"w.start".as("window_start"), $"event_type", $"cnt", $"value_sum")
      .collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1),
                 r.getLong(2), r.getDouble(3)))
      .toSet
    assert(emitted == oracle)
  }

  test("q109 torture: a late row merges into its still-open window copy, loses the closed one") {
    val work = SparkSpec.tempDir("ooo_sliding").toString
    val src = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"

    // Sliding 1h/30m: every event owns TWO window copies whose ends
    // differ by 30 min — so a late row can find one copy closed and the
    // other still open. That per-copy behavior is the sliding-specific
    // semantics this torture pins down.
    val waves = Seq(
      // wave 1 — 10:05 click → copies [09:30,10:30) + [10:00,11:00).
      Seq(Ev(ts("2024-01-01T10:05:00Z"), 1, "click", 1.0)),
      // wave 2 — 13:00 click. Watermark → 11:00: both of 10:05's copies
      // close (ends 10:30 and 11:00 ≤ 11:00) and emit.
      Seq(Ev(ts("2024-01-01T13:00:00Z"), 2, "click", 1.0)),
      // wave 3 — the torture: a 10:40 view, below the 11:00 watermark.
      // Copy [10:00,11:00) is CLOSED → that copy is dropped; copy
      // [10:30,11:30) (end 11:30 > 11:00) is OPEN → merged. One row,
      // half kept. Plus an in-order 13:10 click.
      Seq(Ev(ts("2024-01-01T10:40:00Z"), 3, "view", 3.0),
          Ev(ts("2024-01-01T13:10:00Z"), 2, "click", 1.0)),
      // wave 4 — closer at 17:00 → watermark 15:00 closes everything
      // through hour 14; the closer's own copies stay open (never emit).
      Seq(Ev(ts("2024-01-01T17:00:00Z"), 6, "view", 0.0)))

    val schema = waves.head.toDF().schema
    var dropped = 0L
    waves.zipWithIndex.foreach { case (wave, i) =>
      wave.toDF().write.parquet(s"$src/w$i")
      val q = EventsStream.slidingCounts(
          spark.readStream.schema(schema).parquet(s"$src/*"))
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append").format("parquet").option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      dropped += droppedByWatermark(q)
    }

    val emitted = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Timestamp]("window_start").toInstant.toString,
                 r.getAs[String]("event_type"), r.getAs[Long]("cnt"),
                 r.getAs[Double]("value_sum")))
      .toSet
    assert(emitted == Set(
      ("2024-01-01T09:30:00Z", "click", 1L, 1.0),
      ("2024-01-01T10:00:00Z", "click", 1L, 1.0),  // 10:40 view NOT here
      ("2024-01-01T10:30:00Z", "view", 1L, 3.0),   // ...but it IS here
      ("2024-01-01T12:30:00Z", "click", 2L, 2.0),
      ("2024-01-01T13:00:00Z", "click", 2L, 2.0)))
    // exactly ONE window-copy of the late row was dropped
    assert(dropped == 1L)

    // batch mirror: expand every row into both copies, exclude the one
    // copy the stream provably lost, apply the close condition
    val batch = waves.flatten.toDF()
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("cnt"), sum($"value").as("value_sum"))
      .filter($"w.end" <= ts("2024-01-01T15:00:00Z"))
      .filter(!($"w.start" === ts("2024-01-01T10:00:00Z") &&
                $"event_type" === "view")) // the closed-copy loss
      .select($"w.start".as("window_start"), $"event_type", $"cnt", $"value_sum")
      .collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1),
                 r.getLong(2), r.getDouble(3)))
      .toSet
    assert(emitted == batch)
  }

  test("q103 torture: late fact beyond the join horizon never matches; within-horizon OOO does") {
    implicit val sc = spark.sqlContext
    val evs = MemoryStream[Ev]
    val facts = MemoryStream[Fact]
    val joined = EventsStream.intervalJoin(
      evs.toDF().select($"user_id", $"ts", $"event_type"),
      facts.toDF(), lookback = "1 hour", lateness = "2 hours")
    val q = joined.select($"user_id", $"ts", $"fact_ts", $"tag")
      .writeStream.format("memory").queryName("ooo_ijoin")
      .outputMode("append").start()
    try {
      def rows() = spark.table("ooo_ijoin").collect()
        .map(r => (r.getAs[Long]("user_id"),
                   r.getAs[Timestamp]("ts").toInstant.toString,
                   r.getAs[Timestamp]("fact_ts").toInstant.toString,
                   r.getAs[String]("tag"))).toSet
      // batch 1: in-window match emits as soon as both sides exist
      evs.addData(Ev(ts("2024-01-01T10:00:00Z"), 1, "click", 1.0))
      facts.addData(Fact(ts("2024-01-01T09:30:00Z"), 1, "f1"))
      q.processAllAvailable()
      val m1 = (1L, "2024-01-01T10:00:00Z", "2024-01-01T09:30:00Z", "f1")
      assert(rows() == Set(m1))
      // batch 2: both sides jump to 14:00 → watermark 12:00, the 10:00
      // event's join state is evictable
      evs.addData(Ev(ts("2024-01-01T14:00:00Z"), 2, "click", 1.0))
      facts.addData(Fact(ts("2024-01-01T14:10:00Z"), 9, "noise"))
      q.processAllAvailable()
      // batch 3 torture, arrival order backward in event time:
      //  * f_late 09:45 (user 1) — would have matched the 10:00 click,
      //    but it is beyond the watermark → dropped, match never emits;
      //  * f_ok 13:30 (user 2) — BELOW 14:00 but above the watermark:
      //    matches the already-buffered 14:00 click retroactively.
      facts.addData(
        Fact(ts("2024-01-01T09:45:00Z"), 1, "f_late"),
        Fact(ts("2024-01-01T13:30:00Z"), 2, "f_ok"))
      q.processAllAvailable()
      val m2 = (2L, "2024-01-01T14:00:00Z", "2024-01-01T13:30:00Z", "f_ok")
      assert(rows() == Set(m1, m2)) // f_late produced NOTHING
      assert(droppedByWatermark(q) >= 1L) // and the engine ledger says why
    } finally q.stop()
  }

  test("q92 torture: OOO session extension across batches; beyond-horizon row dropped") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventsStream.userSessions(mem.toDF())
      .writeStream.format("memory").queryName("ooo_sessions")
      .outputMode("append").start()
    try {
      // batch 1: user 1's session opens — rows added OUT OF ORDER inside
      // the batch (10:10 before 10:00). Watermark after: 08:10.
      mem.addData(
        Ev(ts("2024-01-01T10:10:00Z"), 1, "click", 2.0),
        Ev(ts("2024-01-01T10:00:00Z"), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: 10:25 arrives a BATCH LATE but within the horizon — it
      // must extend user 1's open session (to 10:55), not start a new
      // one. 14:00 advances the watermark to 12:00, closing the session.
      mem.addData(
        Ev(ts("2024-01-01T10:25:00Z"), 1, "click", 0.5),
        Ev(ts("2024-01-01T14:00:00Z"), 2, "view", 1.0))
      q.processAllAvailable()
      // batch 3: torture.
      //  * 10:20 (user 1): its session would end 10:50 ≤ wm 12:00 —
      //    beyond the horizon → DROPPED (the already-emitted session is
      //    immutable);
      //  * 11:50 (user 3): event time below the watermark but session end
      //    12:20 > 12:00 → a session the engine must still accept.
      mem.addData(
        Ev(ts("2024-01-01T10:20:00Z"), 1, "click", 99.0),
        Ev(ts("2024-01-01T11:50:00Z"), 3, "view", 2.0))
      q.processAllAvailable()
      // batch 4: closer → wm 16:00 → user 3's and user 2's sessions emit.
      mem.addData(Ev(ts("2024-01-01T18:00:00Z"), 9, "view", 0.0))
      q.processAllAvailable()

      val rows = spark.table("ooo_sessions").collect()
        .map(r => (r.getAs[Timestamp]("session_start").toInstant.toString,
                   r.getAs[Timestamp]("session_end").toInstant.toString,
                   r.getAs[Long]("user_id"), r.getAs[Long]("events"),
                   r.getAs[Double]("value_sum")))
        .toSet
      assert(rows == Set(
        // one MERGED session 10:00→10:55 (0.5 included, 99.0 dropped)
        ("2024-01-01T10:00:00Z", "2024-01-01T10:55:00Z", 1L, 3L, 3.5),
        ("2024-01-01T11:50:00Z", "2024-01-01T12:20:00Z", 3L, 1L, 2.0),
        ("2024-01-01T14:00:00Z", "2024-01-01T14:30:00Z", 2L, 1L, 1.0)))
      assert(droppedByWatermark(q) == 1L)
    } finally q.stop()
  }

  test("q114 boundary: a session whose end lands EXACTLY on the final watermark emits") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventsStream.customSessions(mem.toDF())
      .writeStream.format("memory").queryName("boundary_custom_sessions")
      .outputMode("append").start()
    try {
      // session end = 10:00 + 30m = 10:30; closer at 12:30 puts the
      // final watermark at EXACTLY 10:30. The close condition is
      // inclusive (end <= wm, like session_window), but the engine
      // fires timeouts only when wm is STRICTLY past the armed ts —
      // the arm-one-ms-below logic is what makes this emit.
      mem.addData(Ev(ts("2024-01-01T10:00:00Z"), 1, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01T12:30:00Z"), 2, "view", 0.0))
      q.processAllAvailable()
      val rows = spark.table("boundary_custom_sessions").collect()
        .map(r => (r.getAs[Timestamp]("session_start").toInstant.toString,
                   r.getAs[Long]("user_id")))
      assert(rows.toSet == Set(("2024-01-01T10:00:00Z", 1L)))
    } finally q.stop()
  }

  /** Same waves as the q92 torture, pinning where the custom-state
    * rebuild MATCHES session_window (in-batch OOO, cross-batch
    * extension, value accounting, watermark close) and the one place
    * the surfaces genuinely differ: flatMapGroupsWithState applies
    * ROW-level lateness (input below the watermark never reaches the
    * state function — empirically verified), while session_window
    * judges lateness by the WINDOW (a below-watermark row whose
    * session is still open is merged). So user 3's 11:50 row — kept by
    * q92's engine — is dropped here. Identical output whenever rows
    * arrive within the watermark, which is why q114 shares q92's
    * oracle. */
  test("q114 torture: custom-state sessions under the same OOO waves") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventsStream.customSessions(mem.toDF())
      .writeStream.format("memory").queryName("ooo_custom_sessions")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(ts("2024-01-01T10:10:00Z"), 1, "click", 2.0),
        Ev(ts("2024-01-01T10:00:00Z"), 1, "click", 1.0))
      q.processAllAvailable()
      mem.addData(
        Ev(ts("2024-01-01T10:25:00Z"), 1, "click", 0.5),
        Ev(ts("2024-01-01T14:00:00Z"), 2, "view", 1.0))
      q.processAllAvailable()
      mem.addData(
        Ev(ts("2024-01-01T10:20:00Z"), 1, "click", 99.0),
        Ev(ts("2024-01-01T11:50:00Z"), 3, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01T18:00:00Z"), 9, "view", 0.0))
      q.processAllAvailable()

      val rows = spark.table("ooo_custom_sessions").collect()
        .map(r => (r.getAs[Timestamp]("session_start").toInstant.toString,
                   r.getAs[Timestamp]("session_end").toInstant.toString,
                   r.getAs[Long]("user_id"), r.getAs[Long]("events"),
                   r.getAs[Double]("value_sum")))
        .toSet
      assert(rows == Set(
        // merged OOO session, batch-late 10:25 extension, exact sums —
        // all identical to the native operator...
        ("2024-01-01T10:00:00Z", "2024-01-01T10:55:00Z", 1L, 3L, 3.5),
        ("2024-01-01T14:00:00Z", "2024-01-01T14:30:00Z", 2L, 1L, 1.0)))
        // ...but NO user-3 session: its 11:50 row was below the 12:00
        // watermark and fMGWS row-level lateness dropped it (q92's
        // window-level rule keeps it — the documented divergence)
    } finally q.stop()
  }
}
