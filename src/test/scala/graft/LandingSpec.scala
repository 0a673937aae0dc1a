package graft

import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.{Landing, Readers}

class LandingSpec extends SparkSpec {

  private def makeZip(path: String, entries: (String, String)*): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(path))
    try entries.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  test("S11: cvelistV5-style zip extracts and reads end-to-end (S3)") {
    val work = SparkSpec.tempDir("zip").toString
    val rec = (id: String) =>
      s"""{"cveMetadata": {"cveId": "$id", "state": "PUBLISHED"},
          "containers": {"cna": {"title": "t-$id"}}}"""
    makeZip(s"$work/cvelistV5.zip",
      "cves/2024/0xxx/CVE-2024-0001.json" -> rec("CVE-2024-0001"),
      "cves/2025/0xxx/CVE-2025-0100.json" -> rec("CVE-2025-0100"),
      "cves/deltaLog.json" -> "[]")
    val files = Landing.extractZip(s"$work/cvelistV5.zip", s"$work/tree")
    assert(files.size == 3)
    val df = Readers.cveOrg(spark, s"$work/tree")
    val ids = df.select("id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("CVE-2024-0001", "CVE-2025-0100")) // deltaLog skipped
  }

  test("S11: single-member invariant (handlers/utils.py:113-118)") {
    val work = SparkSpec.tempDir("zip1").toString
    makeZip(s"$work/one.zip", "cwec_latest.xml" -> "<x/>")
    val f = Landing.extractSingleMemberZip(s"$work/one.zip", s"$work/out")
    assert(new File(f).getName == "cwec_latest.xml")
    makeZip(s"$work/two.zip", "a.xml" -> "<x/>", "b.xml" -> "<y/>")
    intercept[IllegalArgumentException] {
      Landing.extractSingleMemberZip(s"$work/two.zip", s"$work/out2")
    }
  }

  test("S11: zip-slip entries are rejected") {
    val work = SparkSpec.tempDir("zipslip").toString
    makeZip(s"$work/evil.zip", "../escape.txt" -> "nope")
    intercept[IllegalArgumentException] {
      Landing.extractZip(s"$work/evil.zip", s"$work/out")
    }
    assert(!new File(s"$work/escape.txt").exists)
  }

  test("extractZipBatched: many-member clone lands as few JSONL batches; reader equals the tree layout") {
    // the day-zero clone path: a cvelistV5-scale archive must not land
    // as one file per member (500k driver-side FS creates + 500k-file
    // scans forever after). The batched landing is one streaming repack
    // pass; the reader dispatches on layout and must produce the
    // IDENTICAL relation — including bodies whose text needs escaping.
    val work = SparkSpec.tempDir("zipbatch").toString
    val rec = (id: String) =>
      s"""{"cveMetadata": {"cveId": "$id", "state": "PUBLISHED"},
          "containers": {"cna": {"title": "t\\"quoted\\"\\t$id"}}}"""
    val members = (1 to 500).map { i =>
      f"cves/2025/${i / 100}xxx/CVE-2025-$i%04d.json" -> rec(f"CVE-2025-$i%04d")
    } :+ ("cves/deltaLog.json" -> "[]")
    makeZip(s"$work/clone.zip", members: _*)
    val n = Landing.extractZipBatched(s"$work/clone.zip", s"$work/batched",
      maxBatchBytes = 16 * 1024)
    assert(n == 501)
    val batchFiles = new File(s"$work/batched").listFiles.map(_.getName).sorted.toSeq
    assert(batchFiles.forall(f => f.startsWith("batch-") && f.endsWith(".jsonl")),
      s"unexpected landing files: $batchFiles")
    assert(batchFiles.size > 1, "a tiny batch cap must roll multiple files")
    assert(batchFiles.size < 50,
      s"batching must land orders of magnitude fewer files than members, got ${batchFiles.size}")
    Landing.extractZip(s"$work/clone.zip", s"$work/tree")
    val batched = Readers.cveOrg(spark, s"$work/batched").orderBy("id").collect().toSeq
    val tree = Readers.cveOrg(spark, s"$work/tree").orderBy("id").collect().toSeq
    assert(batched.size == 500) // deltaLog member filtered in both layouts
    assert(batched == tree,
      "batched and tree layouts must read as the identical relation")
  }

  test("extractZipBatched: a re-run over a smaller zip wipes the stale higher-numbered batches") {
    // crash re-run invariant (ADVICE r15): the fresh archive is smaller,
    // so the repack writes fewer batch files — any stale higher-numbered
    // batch-*.jsonl from the previous run must be GONE, or the reader
    // would scan old records alongside the fresh ones (the tree layout
    // self-heals via same-name overwrite; the batched layout must wipe)
    val work = SparkSpec.tempDir("zipbatchrerun").toString
    val rec = (id: String) =>
      s"""{"cveMetadata": {"cveId": "$id", "state": "PUBLISHED"},
          "containers": {"cna": {"title": "t-$id"}}}"""
    val big = (1 to 400).map(i =>
      f"cves/CVE-2025-$i%04d.json" -> rec(f"CVE-2025-$i%04d"))
    makeZip(s"$work/big.zip", big: _*)
    Landing.extractZipBatched(s"$work/big.zip", s"$work/landing",
      maxBatchBytes = 8 * 1024)
    val before = new File(s"$work/landing").listFiles.length
    assert(before > 1, "the big clone must roll several batches")
    // fresh (smaller, disjoint-id) archive re-lands into the same dir
    val small = (1 to 10).map(i =>
      f"cves/CVE-2026-$i%04d.json" -> rec(f"CVE-2026-$i%04d"))
    makeZip(s"$work/small.zip", small: _*)
    val n = Landing.extractZipBatched(s"$work/small.zip", s"$work/landing",
      maxBatchBytes = 8 * 1024)
    assert(n == 10)
    val ids = Readers.cveOrg(spark, s"$work/landing")
      .select("id").collect().map(_.getString(0)).toSet
    assert(ids == small.map(m => m._1.stripPrefix("cves/")
      .stripSuffix(".json")).toSet,
      s"stale records from the earlier landing survived: ${ids.size} ids")
  }

  test("extractZipBatched: a corrupt re-run archive leaves the previous landing intact") {
    // ADVICE r16: the r15 stale-batch wipe ran before the fresh archive
    // was even opened, so a corrupt re-download destroyed a complete
    // landing. The repack now streams into a dot-prefixed temp dir and
    // swaps in only on success — a bad archive must throw with the old
    // batches (and the relation the reader serves) untouched, and leave
    // no temp residue behind.
    val work = SparkSpec.tempDir("zipbatchcorrupt").toString
    val rec = (id: String) =>
      s"""{"cveMetadata": {"cveId": "$id", "state": "PUBLISHED"},
          "containers": {"cna": {"title": "t-$id"}}}"""
    val good = (1 to 40).map(i =>
      f"cves/CVE-2025-$i%04d.json" -> rec(f"CVE-2025-$i%04d"))
    makeZip(s"$work/good.zip", good: _*)
    Landing.extractZipBatched(s"$work/good.zip", s"$work/landing",
      maxBatchBytes = 4 * 1024)
    val before = Readers.cveOrg(spark, s"$work/landing")
      .select("id").collect().map(_.getString(0)).toSet
    assert(before.size == 40)
    // a local-header signature followed by 0xFF bytes: the flags word
    // marks the entry encrypted, so ZipInputStream throws on the very
    // first getNextEntry — before any member could land
    val corrupt = Array[Byte](0x50, 0x4b, 3, 4) ++ Array.fill[Byte](64)(-1)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$work/bad.zip"), corrupt)
    intercept[Exception] {
      Landing.extractZipBatched(s"$work/bad.zip", s"$work/landing",
        maxBatchBytes = 4 * 1024)
    }
    val after = Readers.cveOrg(spark, s"$work/landing")
      .select("id").collect().map(_.getString(0)).toSet
    assert(after == before,
      "a corrupt archive must not destroy the previous landing")
    assert(new File(s"$work/landing").listFiles.forall(f =>
      f.getName.startsWith("batch-") && f.getName.endsWith(".jsonl")),
      "the failed repack must clean up its temp directory")
  }

  test("extractZipBatched: an aged .repack temp is reclaimed even when its pid reads alive") {
    // ADVICE r17: cleanup keyed liveness on ProcessHandle alone — a
    // crashed run's pid recycled onto an unrelated long-lived process
    // would shield the orphaned multi-GB temp forever. The age backstop
    // must reclaim it regardless. We fake the recycled-pid case with
    // OUR OWN (definitely alive) pid and an mtime pushed past the bound.
    val work = SparkSpec.tempDir("zipbatchstale").toString
    val rec = (id: String) =>
      s"""{"cveMetadata": {"cveId": "$id", "state": "PUBLISHED"},
          "containers": {"cna": {"title": "t-$id"}}}"""
    makeZip(s"$work/clone.zip",
      "cves/CVE-2025-0001.json" -> rec("CVE-2025-0001"))
    val landing = new File(s"$work/landing")
    landing.mkdirs()
    // pid 1 (the container init) is alive and is NOT this run's pid, so
    // the extractor's own temp never collides with it
    assert(ProcessHandle.of(1L).map[Boolean](_.isAlive).orElse(false),
      "test needs a live pid 1 to model the recycled-pid case")
    val stale = new File(landing, ".repack-1")
    stale.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stale.getPath, "batch-00000.jsonl"),
      "{}".getBytes)
    // young + alive: survives the cleanup (a genuinely live repack)
    Landing.extractZipBatched(s"$work/clone.zip", landing.getPath)
    assert(stale.exists(),
      "a young .repack dir under a live pid must be left alone")
    val aged = System.currentTimeMillis() - Landing.StaleRepackMs - 60000L
    // DIR mtime aged but the open batch file still being WRITTEN
    // (fresh entry mtime): a live extraction streaming one >64 MiB
    // batch for longer than the bound only refreshes the file, not the
    // dir — it must NOT be reclaimed out from under the writer
    // (ADVICE r18: staleness keys on the newest touch, dir or entry)
    assert(stale.setLastModified(aged))
    Landing.extractZipBatched(s"$work/clone.zip", landing.getPath)
    assert(stale.exists(),
      "an aged dir with a freshly-written batch file is a LIVE repack")
    // everything aged past the bound: reclaimed despite the live pid
    assert(stale.setLastModified(aged))
    assert(new File(stale, "batch-00000.jsonl").setLastModified(aged))
    Landing.extractZipBatched(s"$work/clone.zip", landing.getPath)
    assert(!stale.exists(),
      "an aged .repack dir must be reclaimed despite a live pid")
    assert(Readers.cveOrg(spark, landing.getPath).count() == 1)
  }

  test("landKeyed: executors land <cveId>.json files the cveOrg reader consumes; re-land wipes") {
    import spark.implicits._
    val work = SparkSpec.tempDir("keyed").toString
    val rec = (id: String) =>
      s"""{"cveMetadata": {"cveId": "$id", "state": "PUBLISHED"},
          "containers": {"cna": {"title": "t-$id"}}}"""
    val files = Seq("CVE-2025-0001", "CVE-2025-0002", "CVE-2025-0003")
      .map(id => graft.sources.FetchedFile(id, 1, rec(id)))
    val landed = Landing.landKeyed(spark.createDataset(files).repartition(2), s"$work/cveorg")
    assert(landed == 3)
    val ids = Readers.cveOrg(spark, s"$work/cveorg")
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids == files.map(_.name))
    // re-landing a smaller delta wipes the earlier tick's stale records
    // (landPages' idempotence contract)
    val again = Landing.landKeyed(
      spark.createDataset(files.take(1)), s"$work/cveorg")
    assert(again == 1)
    assert(Readers.cveOrg(spark, s"$work/cveorg").count() == 1)
  }

  test("landKeyed: a landing name never escapes its dir") {
    import spark.implicits._
    val work = SparkSpec.tempDir("keyedEvil").toString
    val evil = spark.createDataset(Seq(
      graft.sources.FetchedFile("../escape", 1, "{}")))
    intercept[org.apache.spark.SparkException] {
      Landing.landKeyed(evil, s"$work/cveorg")
    }
    assert(!new File(s"$work/escape.json").exists)
  }
}
