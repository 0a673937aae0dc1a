package graft

import java.sql.Timestamp
import java.time.Instant

import graft.operators.Watermarks

class WatermarksSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  test("K3/T2: upsert + read-back round-trip, per-source isolation") {
    val dir = SparkSpec.tempDir("wm").toString + "/status"
    assert(Watermarks.lastUpdated(spark, dir, "nvd").isEmpty)
    Watermarks.upsert(spark, dir, "nvd", ts("2025-04-01T00:00:00Z"))
    Watermarks.upsert(spark, dir, "epss", ts("2025-04-02T00:00:00Z"),
      Some(ts("2025-04-01T12:00:00Z")))
    assert(Watermarks.lastUpdated(spark, dir, "nvd").get == ts("2025-04-01T00:00:00Z"))
    assert(Watermarks.lastUpdated(spark, dir, "epss").get == ts("2025-04-02T00:00:00Z"))
    assert(Watermarks.sourceLastUpdate(spark, dir, "epss").get == ts("2025-04-01T12:00:00Z"))
    // re-upsert advances last_updated, preserves source stamp when omitted
    Watermarks.upsert(spark, dir, "epss", ts("2025-04-03T00:00:00Z"))
    assert(Watermarks.lastUpdated(spark, dir, "epss").get == ts("2025-04-03T00:00:00Z"))
    assert(Watermarks.sourceLastUpdate(spark, dir, "epss").get == ts("2025-04-01T12:00:00Z"))
  }

  test("T3: window start falls back to 24h lookback on cold start") {
    val dir = SparkSpec.tempDir("wm2").toString + "/status"
    val now = ts("2025-04-10T12:00:00Z")
    assert(Watermarks.windowStart(spark, dir, "nvd", now) == ts("2025-04-09T12:00:00Z"))
    Watermarks.upsert(spark, dir, "nvd", ts("2025-04-10T00:00:00Z"))
    assert(Watermarks.windowStart(spark, dir, "nvd", now) == ts("2025-04-10T00:00:00Z"))
  }

  test("upsertAll: one read-modify-swap equals sequential upserts; preserves omitted stamps") {
    val a = SparkSpec.tempDir("wm3").toString + "/batched"
    val b = SparkSpec.tempDir("wm3").toString + "/sequential"
    // seed both with a stored upstream stamp the batch must NOT clobber
    Seq(a, b).foreach { d =>
      Watermarks.upsert(spark, d, "epss", ts("2025-04-01T00:00:00Z"),
        Some(ts("2025-03-31T12:00:00Z")))
      Watermarks.upsert(spark, d, "kev", ts("2025-04-01T00:00:00Z"),
        Some(ts("2025-03-31T06:00:00Z")))
    }
    val entries = Seq(
      ("job", ts("2025-04-02T00:00:00Z"), None), // job row: no upstream stamp
      ("epss", ts("2025-04-02T00:00:00Z"), Some(ts("2025-04-01T20:00:00Z"))),
      ("kev", ts("2025-04-02T00:00:00Z"), None)) // fetched, but probe failed
    Watermarks.upsertAll(spark, a, entries)
    entries.foreach { case (s, lu, slu) => Watermarks.upsert(spark, b, s, lu, slu) }
    val rows = (d: String) => Watermarks.read(spark, d).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2))).sortBy(_._1).toSeq
    assert(rows(a) == rows(b))
    assert(Watermarks.sourceLastUpdate(spark, a, "epss").get == ts("2025-04-01T20:00:00Z"))
    assert(Watermarks.sourceLastUpdate(spark, a, "kev").get == ts("2025-03-31T06:00:00Z"))
    assert(Watermarks.sourceLastUpdate(spark, a, "job").isEmpty)
    // empty batch: no-op, creates nothing
    val c = SparkSpec.tempDir("wm3").toString + "/empty"
    Watermarks.upsertAll(spark, c, Seq.empty)
    assert(!new java.io.File(c).exists())
  }

  test("P11: freshness short-circuit semantics") {
    assert(Watermarks.isFresh(Some(ts("2025-04-02T00:00:00Z")), ts("2025-04-01T00:00:00Z")))
    assert(Watermarks.isFresh(Some(ts("2025-04-01T00:00:00Z")), ts("2025-04-01T00:00:00Z")))
    assert(!Watermarks.isFresh(Some(ts("2025-04-01T00:00:00Z")), ts("2025-04-02T00:00:00Z")))
    assert(!Watermarks.isFresh(None, ts("2025-04-01T00:00:00Z")))
  }

  test("day-granularity fidelity mode: a same-day re-release is fresh; next day is not") {
    // the reference's `.date()` compare (cisa_handler.py:55,
    // epss_handler.py:64): an upstream re-released later the SAME UTC
    // day reads as fresh — exactly where the default full-instant
    // compare fetches
    val stored = Some(ts("2025-04-01T08:00:00Z"))
    val sameDayLater = ts("2025-04-01T20:00:00Z")
    assert(Watermarks.isFreshDay(stored, sameDayLater),
      "same-day re-release must be fresh at day granularity")
    assert(!Watermarks.isFresh(stored, sameDayLater),
      "the default full-instant compare must fetch the same-day re-release")
    // next day: both modes fetch
    assert(!Watermarks.isFreshDay(stored, ts("2025-04-02T00:00:01Z")))
    // earlier-day upstream: both modes skip
    assert(Watermarks.isFreshDay(stored, ts("2025-03-31T23:59:59Z")))
    // day zero: both modes fetch
    assert(!Watermarks.isFreshDay(None, ts("2025-04-01T00:00:00Z")))
    // Scope note (r15 verdict stretch): freshness_granularity gates the
    // SINGLE-FILE probe path only (Main.SingleFileSources — the
    // reference's `.date()` compares all live in single-file handlers:
    // cisa/epss). The PAGINATED sources (nvd/redhat) deliberately ignore
    // it: they have no upstream freshness probe to granularity-compare —
    // their protocol is an instant-based lastModStart/EndDate window
    // derived from the stored stamp, and truncating those instants to
    // days would RE-FETCH up to a day of already-landed records per tick
    // rather than skip anything. FetchE2eSpec's windowed ticks pin the
    // instant-based window boundaries.
  }
}
