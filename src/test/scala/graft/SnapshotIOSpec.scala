package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.CvePipeline.Landing

/** Crash-safety of the snapshot swap (ADVICE r1: delete-then-rename window)
  * plus the two adjacent round-1 advice items: the update tick must refresh
  * ALL landed sources, and Bench must report failures explicitly. */
class SnapshotIOSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def writeDir(path: String, tag: String): Unit = {
    import spark.implicits._
    Seq(tag).toDF("tag").coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def readTag(path: String): String =
    spark.read.parquet(path).head().getString(0)

  test("swap replaces dst atomically-enough and leaves no backup behind") {
    val work = SparkSpec.tempDir("swap").toString
    writeDir(s"$work/snap", "old")
    writeDir(s"$work/tmp", "new")
    SnapshotIO.swap(conf, s"$work/tmp", s"$work/snap")
    assert(readTag(s"$work/snap") == "new")
    assert(!new java.io.File(s"$work/snap_bak").exists)
    assert(!new java.io.File(s"$work/tmp").exists)
  }

  test("recover restores the backup when a crash struck between renames") {
    val work = SparkSpec.tempDir("rec").toString
    writeDir(s"$work/snap", "old")
    // Simulate a crash after rename(dst, bak) but before rename(tmp, dst):
    // dst is gone, only the backup survives.
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    fs.rename(new org.apache.hadoop.fs.Path(s"$work/snap"),
      new org.apache.hadoop.fs.Path(s"$work/snap_bak"))
    assert(SnapshotIO.recover(conf, s"$work/snap"))
    assert(readTag(s"$work/snap") == "old")
    // No-op when dst is healthy.
    assert(!SnapshotIO.recover(conf, s"$work/snap"))
  }

  test("swap, recover and records resolve the filesystem from the path, not defaultFS") {
    val work = SparkSpec.tempDir("swapfs").toUri.toString.stripSuffix("/")
    writeDir(s"$work/snap", "old")
    writeDir(s"$work/tmp", "new")
    // a default filesystem no store lives on (an unregistered scheme)
    val other = new org.apache.hadoop.conf.Configuration(conf)
    other.set("fs.defaultFS", "graftnofs:///")
    SnapshotIO.swap(other, s"$work/tmp", s"$work/snap")
    assert(readTag(s"$work/snap") == "new")
    val rec = new org.apache.hadoop.fs.Path(s"$work/rec")
    SnapshotIO.writeRecord(other, rec, "a\n")
    assert(SnapshotIO.readRecord(other, rec).contains("a\n"))
    assert(SnapshotIO.readRecord(other, new org.apache.hadoop.fs.Path(s"$work/none")).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(work).getFileSystem(conf)
    fs.rename(new org.apache.hadoop.fs.Path(s"$work/snap"),
      new org.apache.hadoop.fs.Path(s"$work/snap_bak"))
    assert(SnapshotIO.recover(other, s"$work/snap"))
    assert(readTag(s"$work/snap") == "new")
  }

  test("a record commits on a filesystem whose rename refuses an existing target") {
    val refusing = new org.apache.hadoop.conf.Configuration(conf)
    refusing.set("fs.graftrefuse.impl", classOf[SnapshotIOSpec.RefusingRenameFs].getName)
    refusing.setBoolean("fs.graftrefuse.impl.disable.cache", true)
    val work = SparkSpec.tempDir("refuse").toString
    val rec = new org.apache.hadoop.fs.Path(s"graftrefuse://$work/rec")
    def local(name: String) = java.nio.file.Paths.get(work, name)
    SnapshotIO.writeRecord(refusing, rec, "a\n")
    SnapshotIO.writeRecord(refusing, rec, "b\n") // the rewrite: its target exists
    assert(SnapshotIO.readRecord(refusing, rec).contains("b\n"))
    assert(!java.nio.file.Files.exists(local("rec_bak")))
    assert(!java.nio.file.Files.exists(local("rec.tmp")))
    // a crash between the backup rename and the commit rename: only the
    // backup holds the record, and it still reads
    java.nio.file.Files.move(local("rec"), local("rec_bak"))
    assert(SnapshotIO.readRecord(refusing, rec).contains("b\n"))
    SnapshotIO.writeRecord(refusing, rec, "c\n")
    assert(SnapshotIO.readRecord(refusing, rec).contains("c\n"))
    SnapshotIO.writeRecord(refusing, rec, "d\n")
    assert(SnapshotIO.readRecord(refusing, rec).contains("d\n"))
    assert(!java.nio.file.Files.exists(local("rec_bak")))
  }

  test("a mid-swap bucket crash does not flip the next tick into an init rebuild") {
    val work = SparkSpec.tempDir("rec2").toString
    val landing = Landing(
      nvd = Some(res("nvd_page.json")),
      epss = Some(res("epss_scores.csv")),
      kev = Some(res("known_exploited_vulnerabilities.json")))
    CveJob.mergeLanded(spark, landing, s"$work/snap",
      Timestamp.valueOf("2025-04-01 00:00:00"))
    val created0 = operators.PartitionedSnapshot.read(spark, s"$work/snap")
      .filter(col("id") === "CVE-2024-0001").select("created_at")
      .head().getTimestamp(0)
    // Crash between the two renames of a BUCKET swap (the bounded-merge
    // crash state): one bucket directory sits at its backup name. The
    // layout sidecar survives, so the next tick must heal the bucket and
    // stay on the update path — never flip into a from-scratch rebuild.
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    val bucket = new java.io.File(s"$work/snap").listFiles
      .filter(_.getName.startsWith(operators.PartitionedSnapshot.BucketCol + "="))
      .head.getName
    fs.rename(new org.apache.hadoop.fs.Path(s"$work/snap/$bucket"),
      new org.apache.hadoop.fs.Path(s"$work/snap/${bucket}_bak"))
    CveJob.mergeLanded(spark, landing, s"$work/snap",
      Timestamp.valueOf("2025-04-02 00:00:00"))
    val r = operators.PartitionedSnapshot.read(spark, s"$work/snap")
      .filter(col("id") === "CVE-2024-0001")
      .select("created_at", "updated_at").head()
    assert(r.getTimestamp(0) == created0) // history survived the crash
    assert(r.getTimestamp(1) == Timestamp.valueOf("2025-04-02 00:00:00"))
  }

  test("update tick refreshes sources beyond epss/kev/nvd (ADVICE r1)") {
    val work = SparkSpec.tempDir("allsrc").toString
    CveJob.mergeLanded(spark,
      Landing(nvd = Some(res("nvd_page.json"))),
      s"$work/snap", Timestamp.valueOf("2025-04-01 00:00:00"))
    assert(!spark.read.parquet(s"$work/snap").columns.contains("exploitdb"))
    // Second tick lands a multi-row source that the old code ignored.
    CveJob.mergeLanded(spark,
      Landing(exploitDb = Some(res("files_exploits.csv")),
        debian = Some(res("debian.json"))),
      s"$work/snap", Timestamp.valueOf("2025-04-02 00:00:00"))
    // a widening delta adds columns only to TOUCHED buckets — the
    // union schema in the layout sidecar is the layout's contract
    val snap = operators.PartitionedSnapshot.read(spark, s"$work/snap")
    val r = snap.filter(col("id") === "CVE-2024-0001").head()
    assert(!r.isNullAt(r.fieldIndex("exploitdb")))
    assert(snap.select("id").distinct().count() == snap.count())
  }

  test("Bench.run reports a dead query in failed, not just on stderr") {
    import spark.implicits._
    val queries = Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      "ok" -> ((s, _) => { import s.implicits._; Seq(1, 2).toDF("n") }),
      "boom" -> ((_, _) => throw new RuntimeException("deliberate")))
    val (results, failed) = Bench.run(spark, "unused", queries)
    assert(failed == Seq("boom"))
    assert(results.map(_._1) == Seq("boom", "ok"))
    // a dead query carries NO measurement (None → JSON null) — the
    // headline total sums only real timings, so a failure round can
    // never read as a speedup (ADVICE r19)
    assert(results.toMap.apply("boom").isEmpty)
    assert(results.toMap.apply("ok").exists(_ >= 0.0))
  }
}

object SnapshotIOSpec {

  /** The local filesystem under its own scheme, with the rename of HDFS
    * and object stores: it refuses (returns false) when the target exists. */
  class RefusingRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("graftrefuse:///")
    override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
      !exists(dst) && super.rename(src, dst)
  }
}
