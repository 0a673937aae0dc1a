package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.PartitionedSnapshot
import graft.streaming.EventsStream

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class RawDoc(ts: Timestamp, doc_id: Long, text: String, lang: String, source: String)
case class Fact(fact_ts: Timestamp, user_id: Long, tag: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  test("T5: tumbling-window counts over a memory stream (append after watermark)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventsStream.hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(ts("2024-01-01T10:05:00Z"), 1, "click", 1.0),
        Ev(ts("2024-01-01T10:45:00Z"), 2, "click", 2.0),
        Ev(ts("2024-01-01T10:50:00Z"), 1, "view", 5.0))
      q.processAllAvailable()
      // advance the watermark past 10:00-11:00 + 2h lateness
      mem.addData(Ev(ts("2024-01-01T13:30:00Z"), 3, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hourly").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toInstant.toString,
                   r.getAs[String]("event_type"), r.getAs[Long]("cnt")))
        .toSet
      assert(rows == Set(
        ("2024-01-01T10:00:00Z", "click", 2L),
        ("2024-01-01T10:00:00Z", "view", 1L)))
    } finally q.stop()
  }

  test("T5: session windows close after the gap") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventsStream.userSessions(mem.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(ts("2024-01-01T10:00:00Z"), 1, "click", 1.0),
        Ev(ts("2024-01-01T10:10:00Z"), 1, "click", 1.0), // same session
        Ev(ts("2024-01-01T11:30:00Z"), 1, "click", 1.0)) // new session
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01T15:00:00Z"), 9, "x", 0.0)) // advance wm
      q.processAllAvailable()
      val sessions = spark.table("sessions")
        .filter($"user_id" === 1).collect()
        .map(r => (r.getAs[Timestamp]("session_start").toInstant.toString,
                   r.getAs[Long]("events")))
        .toSet
      assert(sessions == Set(("2024-01-01T10:00:00Z", 2L),
                             ("2024-01-01T11:30:00Z", 1L)))
    } finally q.stop()
  }

  test("T5 EXT: mapGroupsWithState keeps per-user totals across micro-batches") {
    import graft.streaming.{UserEvent, UserTotal}
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = EventsStream.runningUserTotals(mem.toDS())
      .writeStream.format("memory").queryName("totals")
      .outputMode("update").start()
    try {
      mem.addData(UserEvent(1, "click", 1.0), UserEvent(1, "click", 2.0),
                  UserEvent(2, "view", 5.0))
      q.processAllAvailable()
      mem.addData(UserEvent(1, "click", 4.0)) // state must carry over
      q.processAllAvailable()
      val latest = spark.table("totals")
        .groupBy($"user_id")
        .agg(max(struct($"events", $"value_sum")).as("s"))
        .select($"user_id", $"s.events", $"s.value_sum")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(latest == Set((1L, 3L, 7.0), (2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("EXT: streaming dedup drops re-observed digests within the horizon, state evicts after") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val deduped = EventsStream.dedupWithinHorizon(
      mem.toDF().withColumn("digest", md5($"event_type".cast("binary"))),
      Seq("digest"), horizon = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(ts("2024-01-01T10:00:00Z"), 1, "click", 1.0),
        Ev(ts("2024-01-01T10:05:00Z"), 2, "click", 2.0), // dup digest, in horizon
        Ev(ts("2024-01-01T10:10:00Z"), 3, "view", 3.0))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01T10:20:00Z"), 4, "click", 4.0)) // still in horizon
      q.processAllAvailable()
      // advance the watermark beyond first-seen + horizon → state evicted
      mem.addData(Ev(ts("2024-01-01T14:00:00Z"), 5, "ping", 0.0))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01T14:10:00Z"), 6, "click", 6.0)) // re-emits
      q.processAllAvailable()
      val users = spark.table("dedup").select("user_id")
        .collect().map(_.getLong(0)).toSet
      assert(users == Set(1L, 3L, 5L, 6L)) // 2 and 4 dropped as dups
    } finally q.stop()
  }

  test("T3/T4: AvailableNow drains a file backlog through the idempotent merge sink") {
    val work = SparkSpec.tempDir("stream").toString
    val srcDir = s"$work/in"; val snap = s"$work/snapshot"; val ckpt = s"$work/ckpt"
    // batch 1 lands before the stream starts (backlog)
    Seq(("CVE-1", 0.1), ("CVE-2", 0.2)).toDF("id", "epss")
      .write.parquet(s"$srcDir/b1")
    val schema = spark.read.parquet(s"$srcDir/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q1 = EventsStream.runAvailableNow(
      EventsStream.mergeSink(stream, snap, "id", ckpt))
    q1.awaitTermination()
    val after1 = PartitionedSnapshot.read(spark, snap)
    assert(after1.count() == 2)
    val created1 = after1.filter($"id" === "CVE-1")
      .select("created_at").head().getTimestamp(0)
    // every data file of the snapshot: bucket dir -> (file name, mtime)
    def files(): Map[String, Set[(String, Long)]] =
      new java.io.File(snap).listFiles.filter(_.getName.startsWith(PartitionedSnapshot.BucketCol + "="))
        .map(d => d.getName -> d.listFiles.map(f => (f.getName, f.lastModified)).toSet).toMap
    val files1 = files()

    // batch 2: update CVE-1, add CVE-3 — catch-up tick picks up only new files
    Seq(("CVE-1", 0.9), ("CVE-3", 0.3)).toDF("id", "epss")
      .write.parquet(s"$srcDir/b2")
    val q2 = EventsStream.runAvailableNow(
      EventsStream.mergeSink(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*"), snap, "id", ckpt))
    q2.awaitTermination()
    val after2 = PartitionedSnapshot.read(spark, snap)
    assert(after2.count() == 3)
    // the second batch rewrote only the buckets of its own keys: the
    // other buckets' files are the same files, untouched
    val touched = Seq("CVE-1", "CVE-3").map(id => s"${PartitionedSnapshot.BucketCol}=" +
      spark.range(1).select(PartitionedSnapshot.bucketOf(lit(id), EventsStream.SinkBuckets))
        .head().getLong(0)).toSet
    val untouched = files1.keySet -- touched
    assert(untouched.nonEmpty, s"CVE-2 must hash outside the batch-2 buckets $touched")
    val files2 = files()
    untouched.foreach(b => assert(files2(b) == files1(b), b))
    assert(after2.filter($"id" === "CVE-1").select("epss").head().getDouble(0) == 0.9)
    // T4: created_at preserved across the re-merge
    assert(after2.filter($"id" === "CVE-1")
      .select("created_at").head().getTimestamp(0) == created1)
  }

  test("stream-stream interval join matches facts within the lookback only") {
    implicit val sc = spark.sqlContext
    val ev = MemoryStream[Ev]
    val facts = MemoryStream[Fact]
    val joined = EventsStream.intervalJoin(ev.toDF(), facts.toDF())
      .select($"user_id", $"event_type", $"tag", $"ts", $"fact_ts")
    val q = joined.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      facts.addData(
        Fact(ts("2024-01-01T09:30:00Z"), 1, "inside"),   // 30m before event
        Fact(ts("2024-01-01T08:30:00Z"), 1, "too_old"),  // 90m before event
        Fact(ts("2024-01-01T10:30:00Z"), 1, "future"),   // after the event
        Fact(ts("2024-01-01T09:45:00Z"), 2, "other_user"))
      ev.addData(Ev(ts("2024-01-01T10:00:00Z"), 1, "click", 1.0))
      q.processAllAvailable()
      // advance both watermarks so results flush in append mode
      ev.addData(Ev(ts("2024-01-01T15:00:00Z"), 9, "x", 0.0))
      facts.addData(Fact(ts("2024-01-01T15:00:00Z"), 9, "x"))
      q.processAllAvailable()
      val tags = spark.table("enriched").filter($"user_id" === 1)
        .select("tag").collect().map(_.getString(0)).toSet
      assert(tags == Set("inside"), s"got $tags")
    } finally q.stop()
  }

  test("interval join leftOuter emits unmatched events with null fact columns") {
    implicit val sc = spark.sqlContext
    val ev = MemoryStream[Ev]
    val facts = MemoryStream[Fact]
    val joined = EventsStream.intervalJoin(ev.toDF(), facts.toDF(),
        joinType = "leftOuter")
      .select($"user_id", $"event_type", $"tag", $"ts", $"fact_ts")
    val q = joined.writeStream.format("memory").queryName("enriched_outer")
      .outputMode("append").start()
    try {
      facts.addData(Fact(ts("2024-01-01T09:30:00Z"), 1, "inside"))
      ev.addData(
        Ev(ts("2024-01-01T10:00:00Z"), 1, "click", 1.0),
        Ev(ts("2024-01-01T10:00:00Z"), 7, "orphan", 1.0)) // no fact for user 7
      q.processAllAvailable()
      // the null row for the orphan only flushes once the watermark closes
      // its window — push both watermarks well past it
      ev.addData(Ev(ts("2024-01-02T15:00:00Z"), 9, "x", 0.0))
      facts.addData(Fact(ts("2024-01-02T15:00:00Z"), 9, "x"))
      q.processAllAvailable()
      ev.addData(Ev(ts("2024-01-03T15:00:00Z"), 9, "y", 0.0))
      facts.addData(Fact(ts("2024-01-03T15:00:00Z"), 9, "y"))
      q.processAllAvailable()
      val rows = spark.table("enriched_outer")
        .select($"user_id", $"event_type", $"tag").collect()
      val u1 = rows.filter(_.getLong(0) == 1L).map(_.getString(2)).toSet
      assert(u1 == Set("inside"), s"got $u1")
      val u7 = rows.filter(_.getLong(0) == 7L)
      assert(u7.length == 1 && u7.head.isNullAt(2),
        s"orphan event should surface once with null tag, got ${u7.toSeq}")
    } finally q.stop()
  }

  test("curated sink: file backlog drains to a deduped snapshot; re-delivery converges") {
    import graft.streaming.DocsStream
    val work = SparkSpec.tempDir("docstream").toString
    val src = s"$work/in"; val snap = s"$work/curated"; val ckpt = s"$work/ckpt"
    val good = "the quick brown fox jumps over the lazy dog again and again"
    val b1 = Seq(
      (ts("2024-01-01T10:00:00Z"), 1L, good, "en", "s"),
      (ts("2024-01-01T10:01:00Z"), 2L, good, "en", "s"), // in-horizon dup
      (ts("2024-01-01T10:02:00Z"), 3L, "too short", "en", "s"))
      .toDF("ts", "doc_id", "text", "lang", "source")
    b1.write.parquet(s"$src/b1")
    val schema = spark.read.parquet(s"$src/b1").schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$src/*")
      val q = EventsStream.runAvailableNow(
        DocsStream.curatedSink(DocsStream.pipeline(stream), snap, ckpt))
      q.awaitTermination()
    }
    run()
    val after1 = PartitionedSnapshot.read(spark, snap)
    assert(after1.count() == 1) // dup collapsed, short doc gated
    val created1 = after1.select("created_at").head().getTimestamp(0)

    // advance the event-time watermark past the digest state's expiry
    // (10:00 + 2h horizon) so the Jan-1 digest is EVICTED from dedup
    // state — without this tick, a later re-delivery is dropped upstream
    // and the keyed sink's idempotency is never actually exercised
    Seq((ts("2024-01-02T12:00:00Z"), 5L,
         "an unrelated watermark advancing document with plenty of tokens",
         "en", "s"))
      .toDF("ts", "doc_id", "text", "lang", "source")
      .write.parquet(s"$src/b2")
    run()
    assert(PartitionedSnapshot.read(spark, snap).count() == 2)

    // re-deliver the same payload beyond the horizon plus one new doc:
    // dedup state no longer holds the digest, so the duplicate REACHES
    // the sink and must converge via the keyed upsert, not append
    Seq((ts("2024-01-03T09:00:00Z"), 7L, good, "en", "s"),
        (ts("2024-01-03T09:01:00Z"), 8L, good + " brand new tail", "en", "s"))
      .toDF("ts", "doc_id", "text", "lang", "source")
      .write.parquet(s"$src/b3")
    run()
    val after3 = PartitionedSnapshot.read(spark, snap)
    assert(after3.count() == 3, s"got ${after3.count()}")
    val goodRow = after3.filter($"doc_id".isin(1L, 7L))
    assert(goodRow.count() == 1) // one row per distinct content
    // the upsert actually hit the row: created_at preserved, updated_at new
    val r = goodRow.select("created_at", "updated_at").head()
    assert(r.getTimestamp(0) == created1)
    assert(r.getTimestamp(1).after(r.getTimestamp(0)))
  }

  test("streaming curation: dedups by content, gates quality, scrubs PII") {
    import graft.streaming.DocsStream
    implicit val sc = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog again and again"
    val mem = MemoryStream[RawDoc]
    val q = DocsStream.pipeline(mem.toDF())
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      mem.addData(
        RawDoc(ts("2024-01-01T10:00:00Z"), 1, good, "en", "s"),
        RawDoc(ts("2024-01-01T10:01:00Z"), 2, good, "en", "s"),       // dup payload
        RawDoc(ts("2024-01-01T10:02:00Z"), 3, "too short", "en", "s"), // < MinTokens
        RawDoc(ts("2024-01-01T10:03:00Z"), 4, good + " x", "zh", "s"), // lang gate
        RawDoc(ts("2024-01-01T10:04:00Z"), 5, ("spam ham " * 40).trim, "en", "s"), // repetition
        RawDoc(ts("2024-01-01T10:05:00Z"), 6,
               "mail me at a@b.io or call +1 555-0000 about the brown fox", "en", "s"))
      q.processAllAvailable()
      val rows = spark.table("curated").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      assert(rows.keySet == Set(1L, 6L), s"kept ${rows.keySet}")
      assert(rows(6L) == "mail me at <EMAIL> or call <PHONE> about the brown fox")
      // batch/stream parity: the same transform on the same survivors
      val batch = DocsStream.curate(
        Seq((1L, good, "en", "s"),
            (6L, "mail me at a@b.io or call +1 555-0000 about the brown fox", "en", "s"))
          .toDF("doc_id", "text", "lang", "source"))
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(batch == rows)
    } finally q.stop()
  }

  test("shingle store: re-delivered batch is idempotent; verify read is file-pruned") {
    import graft.operators.{BandIndex, Dedup}
    import graft.streaming.DocsStream
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val work = SparkSpec.tempDir("graft_store_idem_")
    scala.sys.addShutdownHook(graft.sources.Landing.deleteNoFollow(work.toFile))
    val idx = "file:" + work.resolve("idx")
    val store = java.nio.file.Files.createDirectory(work.resolve("shingles")).toString
    val snap = work.resolve("pairs").toString
    BandIndex.write(Dedup.explodedShingles(Dedup.shingleSets(docs.limit(0))), idx)
    val b0 = docs.filter($"doc_id" % 2 === 0)
    val b1 = docs.filter($"doc_id" % 2 === 1)
    DocsStream.indexedDedupTick(b0, 0L, idx, store, snap, 0.8)
    DocsStream.indexedDedupTick(b1, 1L, idx, store, snap, 0.8)
    def storeDf = DocsStream.shingleStore(store).raw(spark)
    val rowsBefore = storeDf.count()
    val pairsBefore = DocsStream.readPairs(spark, snap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairsBefore.nonEmpty)

    // Crash-replay: the checkpoint never committed batch 1, the engine
    // re-delivers it. The store row count and the pair snapshot must be
    // byte-for-byte the same state — the exactly-once claim.
    DocsStream.indexedDedupTick(b1, 1L, idx, store, snap, 0.8)
    assert(storeDf.count() == rowsBefore,
      s"re-delivered batch changed store rows: ${storeDf.count()} != $rowsBefore")
    val pairsAfter = DocsStream.readPairs(spark, snap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairsAfter == pairsBefore)
    // per-(batch, doc) shingle rows are unique — no doubled rows anywhere
    val dbl = storeDf.groupBy("doc_id", "shingle")
      .count().filter($"count" > 1).count()
    assert(dbl == 0, s"$dbl doubled (doc_id, shingle) rows in store")

    // The verify read prunes FILES: a batch/doc_bucket-restricted read
    // must plan partition filters and open strictly fewer files than the
    // full store scan.
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      // the supersede window puts an exchange (→ AQE wrapper + query
      // stages) above the scan, so walk through adaptive nodes to the
      // file-source leaf instead of collectLeaves on the outer plan
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scan(p: SparkPlan): Option[Long] = p match {
        case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
        case q: QueryStageExec        => scan(q.plan)
        case s if s.children.isEmpty =>
          s.metrics.get("numFiles").map(_.value)
        case s => s.children.flatMap(scan(_)).headOption
      }
      scan(df.queryExecution.executedPlan).get
    }
    val all = filesScanned(storeDf.select("doc_id", "shingle"))
    val pruned = DocsStream.shingleStore(store).liveBefore(spark, 1L, Seq(0L, 1L, 2L))
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    val prunedFiles = filesScanned(pruned)
    assert(prunedFiles < all, s"pruned read opened $prunedFiles of $all files")
    // and the batch filter structurally excludes the in-flight batch
    assert(DocsStream.shingleStore(store).liveBefore(spark, 0L,
      (0L until DocsStream.StoreBuckets).toSeq).count() == 0)
  }

  test("shingle store: a re-arriving doc supersedes its stored shingles (LWW)") {
    import graft.operators.{BandIndex, Dedup}
    import graft.streaming.DocsStream
    val work = SparkSpec.tempDir("graft_store_lww_")
    scala.sys.addShutdownHook(graft.sources.Landing.deleteNoFollow(work.toFile))
    val idx = "file:" + work.resolve("idx")
    val store = java.nio.file.Files.createDirectory(work.resolve("shingles")).toString
    val snap = work.resolve("pairs").toString
    def d(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val vOld = "the quick brown fox jumps over the lazy dog near the river bank today"
    val vNew = "completely different content about distributed query engines and shuffle plans at scale"
    BandIndex.write(Dedup.explodedShingles(Dedup.shingleSets(d())), idx)
    DocsStream.indexedDedupTick(d(1L -> vOld), 0L, idx, store, snap, 0.8)
    DocsStream.indexedDedupTick(d(2L -> vOld), 1L, idx, store, snap, 0.8) // dup of 1
    // doc 1 RE-ARRIVES with new text: batch 2 supersedes its batch-0 rows
    DocsStream.indexedDedupTick(d(1L -> vNew), 2L, idx, store, snap, 0.8)
    // doc 3 duplicates the NEW text: it must pair with doc 1 at 1.0 —
    // under the old read doc 1's shingles were DOUBLED (old ∪ new rows),
    // which would corrupt na and sink the jaccard
    DocsStream.indexedDedupTick(d(3L -> vNew), 3L, idx, store, snap, 0.8)
    val pairs = DocsStream.readPairs(spark, snap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs.contains((1L, 2L, 1.0)), s"pre-update dup lost: $pairs")
    assert(pairs.contains((1L, 3L, 1.0)), s"post-update dup wrong: $pairs")
    // and no pair ever exceeds 1.0 — the doubled-rows corruption signature
    assert(pairs.forall(_._3 <= 1.0), s"corrupt jaccard: $pairs")
  }

  test("indexed streaming dedup is batching-invariant and equals the batch truth") {
    import graft.operators.Dedup
    import graft.streaming.DocsStream
    val dir = "/root/testdata/sf0.001"
    def pairsOf(splits: Int) =
      DocsStream.replayIndexedDedup(spark, dir, 0.8, inputSplits = splits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 4 input files × maxFilesPerTrigger=1 → four probe→upsert→append
    // ticks; 1 file → one all-delta tick. The pair set must not care.
    val incremental = pairsOf(4)
    val oneShot = pairsOf(1)
    assert(incremental.nonEmpty && incremental == oneShot)
    // and both equal the plain batch LSH pipeline over the same corpus
    val batch = Dedup.minhashDupPairs(
        Tables.load(spark, dir, "documents"), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incremental == batch)
  }
}
