package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.operators.{Merge, PartitionedSnapshot}

/** The 100 TB MERGE shape: a delta rewrites ONLY the partitions its keys
  * hash into — asserted down to file bytes. */
class PartitionedSnapshotSpec extends SparkSpec {

  private val t0 = lit("2025-01-01 00:00:00").cast("timestamp")
  private val t1 = lit("2025-02-01 00:00:00").cast("timestamp")

  /** md5 of every data file under the snapshot, keyed by relative path. */
  private def fileHashes(root: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val d = MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
        base.relativize(p).toString -> d.map("%02x".format(_)).mkString
      }.toMap
  }

  private def bucketDirOf(rel: String): String =
    rel.split("/").find(_.startsWith(PartitionedSnapshot.BucketCol + "=")).get

  test("initEmpty: day-zero snapshot reads as zero rows WITH schema, then merges deltas") {
    import spark.implicits._
    val path = SparkSpec.tempDir("psnap_empty").toString + "/snap"
    val schemaDf = Merge.init(
      Seq.empty[(String, Double)].toDF("id", "score"), t0)
    PartitionedSnapshot.initEmpty(schemaDf, path, "id", buckets = 8)
    assert(PartitionedSnapshot.isInitialized(spark, path))
    // readable before any bucket exists: schema from the sentinel, 0 rows
    val empty = PartitionedSnapshot.read(spark, path)
    assert(empty.count() == 0)
    assert(Set("id", "score").subsetOf(empty.columns.toSet))
    // an EMPTY delta is a no-op, not a crash
    assert(PartitionedSnapshot.mergeDelta(spark, path,
      Seq.empty[(String, Double)].toDF("id", "score"), "id", t1).isEmpty)
    // first real delta lands through the normal bounded merge
    val touched = PartitionedSnapshot.mergeDelta(spark, path,
      Seq(("a", 1.0), ("b", 2.0)).toDF("id", "score"), "id", t1)
    assert(touched.nonEmpty)
    val rows = PartitionedSnapshot.read(spark, path)
      .select("id", "score").collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(rows == Set("a" -> 1.0, "b" -> 2.0))
    // the sentinel partition is outside the hash range and never touched
    assert(touched.forall(_ >= 0))
  }

  test("delta-touched partitions rewrite; untouched partition files are byte-identical") {
    import spark.implicits._
    val work = SparkSpec.tempDir("psnap").toString
    val path = s"$work/snap"
    val snap0 = Merge.init(
      spark.range(0, 200).select($"id", concat(lit("name-"), $"id").as("name")),
      now = t0)
    PartitionedSnapshot.init(snap0, path, "id", buckets = 8)
    val before = fileHashes(path)
    assert(before.map(h => bucketDirOf(h._1)).toSet.size == 8) // all buckets present

    // A small delta: 3 existing ids + 1 brand-new id.
    val delta = Seq((5L, 0.97), (42L, 0.31), (43L, 0.12), (999L, 0.55))
      .toDF("id", "epss")
    val touched = PartitionedSnapshot.mergeDelta(spark, path, delta, "id", t1)
    val touchedDirs = touched.map(b => s"${PartitionedSnapshot.BucketCol}=$b").toSet
    assert(touched.nonEmpty && touched.size < 8) // the point: a strict subset

    val after = fileHashes(path)
    val untouchedBefore = before.filter(h => !touchedDirs(bucketDirOf(h._1)))
    val untouchedAfter = after.filter(h => !touchedDirs(bucketDirOf(h._1)))
    assert(untouchedBefore == untouchedAfter) // byte-identical, never rewritten
    assert(untouchedBefore.nonEmpty)
    // touched dirs really did change
    assert(before.filter(h => touchedDirs(bucketDirOf(h._1))) !=
           after.filter(h => touchedDirs(bucketDirOf(h._1))))

    // The merge's snapshot-side read is FILE-pruned, not just
    // row-filtered: the same touched-bucket read opens strictly fewer
    // files than the full snapshot scan (partition pruning on the
    // directory column).
    def filesOf(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s if s.metrics.contains("numFiles") =>
          s.metrics("numFiles").value }.get
    }
    val allFiles = filesOf(PartitionedSnapshot.read(spark, path))
    val prunedFiles = filesOf(PartitionedSnapshot.read(spark, path)
      .filter(col(PartitionedSnapshot.BucketCol).isin(touched: _*)))
    assert(prunedFiles < allFiles,
      s"pruned read opened $prunedFiles of $allFiles files")

    // Result equivalence: partitioned merge == plain full merge.
    val expected = Merge.upsert(snap0, delta, "id", t1)
    val got = PartitionedSnapshot.read(spark, path).drop(PartitionedSnapshot.BucketCol)
      .select(expected.columns.map(col): _*) // align column order for exceptAll
    assert(got.count() == 201)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // Bookkeeping: merged row re-stamped, untouched row preserved.
    val r = got.filter($"id" === 42).select("epss", "created_at", "updated_at").head()
    assert(r.getDouble(0) == 0.31)
    assert(r.getTimestamp(2).toString.startsWith("2025-02-01"))
    val u = got.filter($"id" === 7).select("updated_at").head()
    assert(u.getTimestamp(0).toString.startsWith("2025-01-01"))
  }

  test("a bucket left mid-swap by a crash is healed before the next read") {
    import spark.implicits._
    val work = SparkSpec.tempDir("psnap3").toString
    val path = s"$work/snap"
    PartitionedSnapshot.init(
      Merge.init(spark.range(0, 100).select($"id", lit("x").as("v")), t0),
      path, "id", buckets = 4)
    val n0 = PartitionedSnapshot.read(spark, path).count()
    // Simulate mergeDelta crashing between its backup and final rename:
    // one bucket exists only under its backup name.
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val bucket = s"$path/${PartitionedSnapshot.BucketCol}=1"
    fs.rename(new org.apache.hadoop.fs.Path(bucket),
      new org.apache.hadoop.fs.Path(bucket + "_bak"))
    assert(PartitionedSnapshot.read(spark, path).count() == n0) // healed, nothing lost
    // and a subsequent delta merge over the healed layout stays exact
    val touched = PartitionedSnapshot.mergeDelta(spark, path,
      Seq((1L, "y")).toDF("id", "v"), "id", t1)
    assert(touched.nonEmpty)
    val got = PartitionedSnapshot.read(spark, path)
    assert(got.count() == 100)
    assert(got.filter($"id" === 1).select("v").head().getString(0) == "y")
  }

  test("bucket count survives as layout metadata; empty delta is a no-op") {
    import spark.implicits._
    val work = SparkSpec.tempDir("psnap2").toString
    val path = s"$work/snap"
    PartitionedSnapshot.init(
      Merge.init(spark.range(0, 50).select($"id", lit("x").as("v")), t0),
      path, "id", buckets = 4)
    assert(PartitionedSnapshot.numBuckets(spark, path) == 4)
    val before = fileHashes(path)
    val touched = PartitionedSnapshot.mergeDelta(spark, path,
      Seq.empty[(Long, String)].toDF("id", "v"), "id", t1)
    assert(touched.isEmpty)
    assert(fileHashes(path) == before)
  }
}
