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
    assert(Watermarks.read(spark, a) == Watermarks.read(spark, b))
    assert(Watermarks.sourceLastUpdate(spark, a, "epss").get == ts("2025-04-01T20:00:00Z"))
    assert(Watermarks.sourceLastUpdate(spark, a, "kev").get == ts("2025-03-31T06:00:00Z"))
    assert(Watermarks.sourceLastUpdate(spark, a, "job").isEmpty)
    // empty batch: no-op, creates nothing
    val c = SparkSpec.tempDir("wm3").toString + "/empty"
    Watermarks.upsertAll(spark, c, Seq.empty)
    assert(!new java.io.File(c).exists())
  }

  test("the record is read and written without a Spark job") {
    val dir = SparkSpec.tempDir("wm4").toString + "/status"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        descs.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Watermarks.upsertAll(spark, dir, Seq(
        ("cvemate", ts("2025-04-02T00:00:00Z"), None),
        ("epss", ts("2025-04-02T00:00:00Z"), Some(ts("2025-04-01T20:00:00Z")))))
      assert(Watermarks.lastUpdated(spark, dir, "cvemate").contains(ts("2025-04-02T00:00:00Z")))
      // the listener bus delivers in order but asynchronously: a labelled
      // sentinel job arrives after any job the two calls ran
      spark.sparkContext.setJobDescription("sentinel")
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000
      while (!descs.contains("sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(descs.contains("sentinel"))
    assert(descs.toArray.forall(_ == "sentinel"), s"watermark jobs ran: $descs")
    // one line per source, ISO instants, an empty upstream stamp for none
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir)), "UTF-8") ==
      "cvemate\t2025-04-02T00:00:00Z\t\n" +
        "epss\t2025-04-02T00:00:00Z\t2025-04-01T20:00:00Z\n")
  }

  test("sub-millisecond stamps round-trip, so a stamped upstream reads as fresh") {
    val dir = SparkSpec.tempDir("wm6").toString + "/status"
    // KEV's dateReleased carries four fractional digits; a probe may carry nine
    val kev = ts("2024-07-23T14:01:05.1011Z")
    val probe = ts("2024-07-23T14:01:05.101100001Z")
    Watermarks.upsertAll(spark, dir, Seq(("kev", kev, Some(kev)), ("probe", probe, Some(probe))))
    assert(Watermarks.sourceLastUpdate(spark, dir, "kev").contains(kev))
    assert(Watermarks.lastUpdated(spark, dir, "probe").contains(probe))
    assert(Watermarks.isFresh(Watermarks.sourceLastUpdate(spark, dir, "kev"), kev))
    assert(Watermarks.isFresh(Watermarks.sourceLastUpdate(spark, dir, "probe"), probe))
  }

  test("a crash between the temp write and the rename leaves the old values readable") {
    val dir = SparkSpec.tempDir("wm5").toString + "/status"
    Watermarks.upsert(spark, dir, "nvd", ts("2025-04-01T00:00:00Z"), Some(ts("2025-03-31T00:00:00Z")))
    // the next write died after its temp file, torn, before the rename
    java.nio.file.Files.write(java.nio.file.Paths.get(dir + ".tmp"), "nvd\t17435".getBytes("UTF-8"))
    assert(Watermarks.lastUpdated(spark, dir, "nvd").contains(ts("2025-04-01T00:00:00Z")))
    assert(Watermarks.sourceLastUpdate(spark, dir, "nvd").contains(ts("2025-03-31T00:00:00Z")))
    // the re-run replaces the stale temp file and commits
    Watermarks.upsert(spark, dir, "nvd", ts("2025-04-02T00:00:00Z"))
    assert(Watermarks.lastUpdated(spark, dir, "nvd").contains(ts("2025-04-02T00:00:00Z")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".tmp")))
    // a record that does not parse fails loudly, naming the file
    java.nio.file.Files.write(java.nio.file.Paths.get(dir), "nvd 1743465600000\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Watermarks.lastUpdated(spark, dir, "nvd"))
    assert(e.getMessage.contains(dir), e.getMessage)
    // so does a directory at the record's path (an old parquet status
    // table): it must not read as "no watermarks", nor take the write
    val old = SparkSpec.tempDir("wm5").toString + "/status"
    spark.range(1).write.parquet(old)
    val r = intercept[java.io.IOException](Watermarks.lastUpdated(spark, old, "nvd"))
    assert(r.getMessage.contains(old) && r.getMessage.contains("directory"), r.getMessage)
    val w = intercept[java.io.IOException](
      Watermarks.upsertAll(spark, old, Seq(("nvd", ts("2025-04-02T00:00:00Z"), None))))
    assert(w.getMessage.contains(old), w.getMessage)
    val direct = intercept[java.io.IOException](SnapshotIO.writeRecord(
      spark.sparkContext.hadoopConfiguration, new org.apache.hadoop.fs.Path(old), "x\n"))
    assert(direct.getMessage.contains(old), direct.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(old, "status.tmp")))
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
