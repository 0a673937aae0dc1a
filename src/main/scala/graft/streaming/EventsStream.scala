package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.operators.Merge

/** Typed rows for the stateful-processing surface. */
case class UserEvent(user_id: Long, event_type: String, value: Double)
case class UserTotal(user_id: Long, events: Long, value_sum: Double)

// customSessions (q114) state/rows: times in micros, sums in exact
// decimal micro-units (integers — order-independent accumulation)
case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
case class SessAcc(start_us: Long, last_us: Long, n: Long, sum_micros: Long)
case class SessBuf(sessions: Seq[SessAcc])
case class SessOut(start_us: Long, end_us: Long, user_id: Long,
                   events: Long, sum_micros: Long)

/** Streaming layer (SURVEY.md §2.9): the reference is a scheduled
  * micro-batch incremental pipeline with persisted watermarks; its
  * semantics map 1:1 onto Structured Streaming:
  *
  *  - T1 periodic trigger → Trigger.ProcessingTime / AvailableNow;
  *  - T2 persisted watermark → checkpointLocation (+ our Watermarks table
  *    for cross-job visibility);
  *  - T3 catch-up of missed windows → Trigger.AvailableNow drains backlog;
  *  - T4 overlap safety → the foreachBatch sink is the idempotent K1
  *    upsert, so re-delivered windows are no-ops;
  *  - T5 event-time windows → window / session_window with withWatermark;
  *  - T6 graceful shutdown → StreamingQuery.stop().
  *
  * All transforms below take a plain DataFrame so the identical code runs
  * in batch (tests, backfills) and streaming (readStream) — the Spark
  * unified-API property the reference had to hand-roll.
  */
object EventsStream {

  /** File-source stream over a parquet events directory (schema locked —
    * streaming reads never infer). */
  def readEvents(spark: SparkSession, dir: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** T5: tumbling event-time window aggregate with a 2h lateness bound.
    * State is bounded by the watermark — at 100 TB of events/day this is
    * what keeps the agg state O(windows), not O(events). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // exact-decimal sum (the dsum convention): state stays one decimal
      // per group, and the emitted value is aggregation-order-independent
      // — which is what lets q91 hash-compare the stream against SQL
      .agg(count(lit(1)).as("cnt"),
           sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
             .cast("double").as("value_sum"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("cnt"), col("value_sum"))

  /** T5: sliding window (1h length, 30m slide) — every event lands in
    * exactly length/slide = 2 epoch-aligned windows; state is still
    * O(open windows) because the watermark closes both copies together.
    * Value sum follows the dsum convention so emitted rows are
    * hash-comparable (q109). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
           sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
             .cast("double").as("value_sum"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("cnt"), col("value_sum"))

  /** T5: session windows per user with a 30m gap. Value sum follows the
    * dsum convention (exact decimal, surfaced as double) so emitted rows
    * are hash-comparable (q92). */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("s"), col("user_id"))
      .agg(count(lit(1)).as("events"),
           sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
             .cast("double").as("value_sum"))
      .select(col("s.start").as("session_start"), col("s.end").as("session_end"),
              col("user_id"), col("events"), col("value_sum"))

  /** T5 EXT: arbitrary stateful processing — per-user running counters
    * kept in the state store across micro-batches, evicted after an idle
    * timeout. This is the mapGroupsWithState surface the reference's
    * in-memory dicts would need at scale (state is partitioned by key and
    * checkpointed; nothing lives on the driver). */
  def runningUserTotals(events: org.apache.spark.sql.Dataset[UserEvent],
                        idleTimeoutMs: Long = 0L)
      : org.apache.spark.sql.Dataset[UserTotal] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import events.sparkSession.implicits._
    // idleTimeoutMs > 0 bounds state at the cost of a continuously-running
    // micro-batch loop (timeout checks need clock-driven batches); 0 keeps
    // state forever and lets processAllAvailable quiesce — use the
    // watermark-window aggregations when state must be bounded by time.
    val timeoutConf =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserTotal, UserTotal](timeoutConf) {
        (user: Long, batch: Iterator[UserEvent], state: GroupState[UserTotal]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
            val evs = batch.toSeq
            val next = UserTotal(user, prev.events + evs.size,
                                 prev.value_sum + evs.map(_.value).sum)
            state.update(next)
            if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
            next
          }
      }
  }

  /** T5 EXT: session windows REBUILT in arbitrary user state — the
    * flatMapGroupsWithState + EventTimeTimeout surface a production
    * pipeline reaches for when session_window's fixed semantics don't
    * fit (custom merge rules, per-session payloads, early triggers).
    * Here the logic deliberately reproduces session_window exactly so
    * the SAME oracle gates both (q92 native, q114 custom): every event
    * is an interval [ts, ts+gap); intervals merge while the next start
    * is STRICTLY inside the current end (diff >= gap starts a new
    * session); a session emits only once the watermark passes its end —
    * buffered in state until then — and the state timeout re-fires at
    * the earliest retained end. One DOCUMENTED divergence from the
    * native operator (StreamingLatenessSpec pins it): the engine
    * applies ROW-level lateness to this surface — input below the
    * watermark never reaches the state function — while session_window
    * judges lateness by the WINDOW, so a below-watermark row whose
    * session is still open is merged there but dropped here. Output is
    * identical whenever rows arrive within the watermark (hence the
    * shared q92 oracle). Value sums accumulate as exact decimal
    * micro-units (order-independent integers), the dsum convention
    * carried into imperative state code. State per key: the open
    * session plus not-yet-emittable closed ones — bounded by the
    * lateness horizon exactly like the native operator's buffer. */
  def customSessions(events: DataFrame,
                     gapMs: Long = 30L * 60 * 1000): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L

    def merge(sorted: Seq[SessAcc]): Seq[SessAcc] =
      sorted.foldLeft(Vector.empty[SessAcc]) { (acc, s) =>
        acc.lastOption match {
          case Some(cur) if s.start_us < cur.last_us + gapUs =>
            acc.init :+ SessAcc(cur.start_us, math.max(cur.last_us, s.last_us),
              cur.n + s.n, cur.sum_micros + s.sum_micros)
          case _ => acc :+ s
        }
      }

    def step(user: Long, it: Iterator[SessEvent],
             state: GroupState[SessBuf]): Iterator[SessOut] = {
      val incoming = it.map { e =>
        // exact decimal micro-units: BigDecimal.valueOf is the same
        // shortest-decimal reading Spark's double->DECIMAL(18,6) cast
        // uses, so the imperative sum lands on the dsum value
        val micros = java.math.BigDecimal.valueOf(e.value)
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .movePointRight(6).longValueExact()
        val i = e.ts.toInstant
        val tsUs = i.getEpochSecond * 1000000L + i.getNano / 1000L
        SessAcc(tsUs, tsUs, 1L, micros)
      }.toSeq
      val held = state.getOption.map(_.sessions).getOrElse(Seq.empty)
      val all = merge((held ++ incoming).sortBy(s => (s.start_us, s.last_us)))
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (closed, retained) = all.partition(s => s.last_us + gapUs <= wmUs)
      if (retained.isEmpty) state.remove()
      else {
        state.update(SessBuf(retained))
        // The engine fires a timeout only when watermark > armed ts
        // (STRICT), but the close condition is INCLUSIVE (end <= wm,
        // like session_window) — so arm one ms BELOW the ms-ceiled
        // earliest end: the group then wakes exactly when wm reaches
        // the end, including a final watermark that lands ON it. If
        // that value is not strictly above the current watermark (end
        // within the next ms), arm at wm+1 — the only case that can
        // miss is a watermark frozen forever exactly one ms past this
        // session's end, which a micros-granular close can't express
        // through ms-granular timeouts.
        val endMsCeil = (retained.map(_.last_us).min + gapUs + 999L) / 1000L
        val wmNowMs = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(math.max(endMsCeil - 1L, wmNowMs + 1L))
      }
      closed.iterator.map(s =>
        SessOut(s.start_us, s.last_us + gapUs, user, s.n, s.sum_micros))
    }

    events
      .withWatermark("ts", "2 hours")
      // the watermarked ts column must survive into the typed Dataset —
      // event-time timeout requires it on the state operator's input
      .select(col("user_id"), col("ts"), col("value"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessBuf, SessOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step)
      .toDF()
      .select(timestamp_micros(col("start_us")).as("session_start"),
              timestamp_micros(col("end_us")).as("session_end"),
              col("user_id"), col("events"),
              // micro-units back to the dsum double: exact conversion,
              // same value Decimal(18,6).cast(double) produces
              (col("sum_micros").cast("decimal(24,0)") / lit(1000000L))
                .cast("double").as("value_sum"))
  }

  /** EXT: streaming exact dedup — the streaming analog of
    * Dedup.exactGroups. A key (e.g. a content digest) is emitted on first
    * sight; re-observations within the watermark horizon are dropped.
    * State is one entry per distinct key seen inside the horizon and is
    * evicted by the watermark — bounded at any input rate, which is what
    * makes this viable on a 100 TB/day stream (an unbounded
    * dropDuplicates would accrete state forever). */
  def dedupWithinHorizon(docs: DataFrame, dedupCols: Seq[String],
                         tsCol: String = "ts",
                         horizon: String = "2 hours"): DataFrame =
    docs.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(dedupCols)

  /** EXT: stream-stream interval join — pair each event with ALL facts
    * from a second stream that share its key and fall inside the
    * event-time window [ts - lookback, ts]. Fan-out is one output row
    * per matching fact; with the default inner join, events with no
    * matching fact are dropped (pass `joinType = "leftOuter"` to emit
    * them once with null fact columns — Spark emits the null row when
    * the watermark closes the event's window). Both sides carry
    * watermarks AND the join condition bounds event time, which is what
    * lets Spark evict join state: each side buffers only rows inside
    * watermark + lookback, so state stays bounded at any input rate —
    * the property that makes this viable on unbounded 100 TB/day
    * streams. */
  def intervalJoin(events: DataFrame, facts: DataFrame,
                   key: String = "user_id",
                   lookback: String = "1 hour",
                   lateness: String = "2 hours",
                   joinType: String = "inner"): DataFrame =
    events.withWatermark("ts", lateness).as("l")
      .join(
        facts.withWatermark("fact_ts", lateness).as("r"),
        expr(s"l.$key = r.$key AND " +
             s"r.fact_ts BETWEEN l.ts - INTERVAL $lookback AND l.ts"),
        joinType)
      .drop(col(s"r.$key"))

  /** Hash buckets of a [[mergeSink]] snapshot. */
  val SinkBuckets = 32

  /** T4: idempotent keyed merge as a foreachBatch sink — each
    * micro-batch is collapsed to its last row per key and merged into a
    * [[graft.operators.PartitionedSnapshot]] of [[SinkBuckets]] buckets,
    * rewriting only the buckets its keys touch (what MERGE INTO does on
    * an ACID table). Re-delivery of a batch converges to the same
    * snapshot. Read it back with `PartitionedSnapshot.read`. */
  def mergeSink(delta: DataFrame, snapshotPath: String, key: String = "id",
                checkpoint: String): DataStreamWriter[Row] =
    delta.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // upsert runs two actions on it (the touched-bucket probe, the
        // bucket write): persisted so the batch and its collapse run once
        val collapsed = Merge.lastWriterWins(
          batch.withColumn("_pos", monotonically_increasing_id()), key,
          col("_pos")).drop("_pos")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try graft.operators.PartitionedSnapshot.upsert(collapsed, snapshotPath, key, SinkBuckets)
        finally collapsed.unpersist()
        ()
      }

  /** T3: drain everything currently available, then stop (the reference's
    * catch-up-on-missed-windows tick). */
  def runAvailableNow(writer: DataStreamWriter[Row]): StreamingQuery =
    writer.trigger(Trigger.AvailableNow()).start()

  /** Link a parquet table — a single file (driver fixtures) OR a
    * Spark-written DIRECTORY of part files (scaled rehearsal data) —
    * into a stream-source input dir, without mutating the source. All
    * part files are present before the query starts and AvailableNow
    * with no maxFilesPerTrigger drains them as ONE batch, so the
    * emitted set is identical to the single-file replay (the watermark
    * only moves after the batch). Falls back to copying where symlinks
    * are unsupported. */
  private[streaming] def linkTable(in: java.nio.file.Path, table: String): Unit = {
    import scala.jdk.CollectionConverters._
    val target = java.nio.file.Paths.get(table)
    def link(name: String, src: java.nio.file.Path): Unit =
      try { java.nio.file.Files.createSymbolicLink(in.resolve(name), src); () }
      catch { case _: Exception =>
        java.nio.file.Files.copy(src, in.resolve(name)); ()
      }
    if (java.nio.file.Files.isDirectory(target)) {
      val stream = java.nio.file.Files.list(target)
      val entries = try stream.iterator().asScala.toVector finally stream.close()
      val parts = entries.filter(_.getFileName.toString.endsWith(".parquet"))
      // fail loudly on a partitionBy layout (data hidden in
      // subdirectories) — linking only the top-level slice, or nothing,
      // would make the replay "succeed" over partial/empty input, a
      // silent wrong answer. Hidden/metadata dirs (_spark_metadata, .*)
      // are not data; a directory with neither data subdirs nor part
      // files is a legitimately EMPTY table and replays as empty input.
      val dataSubdirs = entries.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isDirectory(p) &&
          !n.startsWith("_") && !n.startsWith(".")
      }
      require(dataSubdirs.isEmpty,
        s"linkTable: $table has partition subdirectories " +
          s"(${dataSubdirs.map(_.getFileName).mkString(", ")}) — " +
          "partitioned table layouts are not replayable")
      parts.zipWithIndex.foreach { case (p, i) => link(f"part-$i%05d.parquet", p) }
    } else link(target.getFileName.toString, target)
  }

  /** Stage the events table behind a file-source stream: per-part-file
    * links in a fresh [[graft.Scratch.fresh]] dir + the nanos-long →
    * micros-timestamp normalization Tables.load applies. Returns the
    * streaming frame and the work dir for checkpoints/output. */
  private def stagedEvents(spark: SparkSession,
                           dir: String): (DataFrame, java.nio.file.Path) = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val work = graft.Scratch.fresh("events_replay_")
    // file stream source needs a directory; link (or copy) the table in
    val in = java.nio.file.Files.createDirectory(work.resolve("in"))
    linkTable(in, path)
    val raw = readEvents(spark, in.toString, schema)
    val events =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    (events, work)
  }

  /** Batch-replay harness: drive a windowed aggregation through the real
    * streaming engine — file source, event-time watermark, APPEND mode,
    * so ONLY watermark-closed windows emit — over the bounded events
    * table, and return the emitted rows. The oracle mirrors the close
    * condition exactly: windows whose end ≤ max(ts) − the 2 h lateness
    * bound. Work dirs are per-call [[graft.Scratch.fresh]] dirs. */
  private def replayEvents(spark: SparkSession, dir: String,
                           agg: DataFrame => DataFrame): DataFrame = {
    val (events, work) = stagedEvents(spark, dir)
    val out = s"$work/out"
    val q = agg(events)
      .writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append")
      .format("parquet").option("path", out)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(out)
  }

  /** q114: [[customSessions]] through the real engine — the custom-state
    * rebuild of session windows must emit exactly what session_window
    * emits, so it shares q92's oracle. */
  def replayCustomSessions(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, customSessions(_))

  /** q113: [[runningUserTotals]] — arbitrary keyed state via
    * mapGroupsWithState — through the real engine. Update-mode emissions
    * land via foreachBatch (the file sink is append-only), and the final
    * per-user snapshot is recovered as max(events): a user's running
    * count is strictly increasing across its emissions, so the
    * extraction is deterministic under ANY batching AvailableNow picks.
    * Gated on the exact integer surface (counts); the double value_sum
    * stays out of the hash gate because mapGroupsWithState folds it in
    * group-iterator order, which no oracle can reproduce. */
  def replayRunningTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (events, work) = stagedEvents(spark, dir)
    val out = s"$work/out"
    val typed = events
      .select(col("user_id"), col("event_type"), col("value"))
      .as[UserEvent]
    val q = runningUserTotals(typed).toDF()
      .writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(out)
      .groupBy(col("user_id"))
      .agg(max(col("events")).as("events"))
  }

  /** q91: [[hourlyCounts]] through the real engine (tumbling windows). */
  def replayHourly(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, hourlyCounts)

  /** q92: [[userSessions]] through the real engine (session windows —
    * a session closes when the watermark passes last-event + gap). */
  def replaySessions(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, userSessions)

  /** q109: [[slidingCounts]] through the real engine — the overlapping
    * member of the window family (q91 tumbling, q92 session). Append
    * mode emits each 30-min-phased window copy independently as the
    * watermark passes ITS end, so the close condition is per-copy, same
    * as tumbling. */
  def replaySliding(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, slidingCounts)

  /** q103: [[intervalJoin]] through the real engine — each click joined
    * to the same user's purchases in the trailing hour, BOTH sides
    * derived from one file-source stream (a stream-stream self-join;
    * Spark plans two watermarked scans of the source). Inner interval
    * matches emit as soon as both sides have arrived — the watermark
    * only evicts state — so the bounded replay equals the batch
    * condition join exactly, which is what the oracle runs. */
  def replayIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, { ev =>
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("fact_ts"),
                col("event_id").as("fact_id"))
      intervalJoin(clicks, purchases)
        .select(col("event_id"), col("fact_id"), col("user_id"))
    })
}
