package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.{BucketPruning, Merge, PartitionedSnapshot}

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

  private def mergeSchemaOf(path: String) =
    spark.read.option("mergeSchema", "true").parquet(path).schema

  /** The bucket ids the frame's file scan selects after partition pruning. */
  private def scannedBuckets(df: DataFrame): Set[Int] = {
    val scan = df.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }.get
    scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.values.getInt(0)).toSet
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private lazy val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  test("initEmpty: day-zero snapshot reads as zero rows WITH schema, then merges deltas") {
    import spark.implicits._
    val path = SparkSpec.tempDir("psnap_empty").toString + "/snap"
    val schemaDf = Merge.init(
      Seq.empty[(String, Double)].toDF("id", "score"), t0)
    PartitionedSnapshot.initEmpty(schemaDf, path, "id", buckets = 8)
    assert(PartitionedSnapshot.isInitialized(spark, path))
    // readable before any bucket exists: schema from the sidecar, 0 rows
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
    // bucket ids are in the hash range, and no partition outside it exists
    assert(touched.forall(_ >= 0))
    assert(!new java.io.File(s"$path/${PartitionedSnapshot.BucketCol}=-1").exists)
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

  test("read takes the sidecar's union schema: a mergeSchema read's, without opening a footer") {
    import spark.implicits._
    val work = SparkSpec.tempDir("psnap_schema").toString
    val path = s"$work/snap"
    PartitionedSnapshot.init(
      Merge.init(spark.range(0, 64).select($"id", concat(lit("n-"), $"id").as("name")), t0),
      path, "id", buckets = 8)
    assert(PartitionedSnapshot.read(spark, path).schema == mergeSchemaOf(path))
    // a widening delta rewrites a strict subset of the buckets
    val touched = PartitionedSnapshot.mergeDelta(spark, path,
      Seq((3L, 0.5), (40L, 0.25)).toDF("id", "epss"), "id", t1)
    assert(touched.size < 8)
    val widened = PartitionedSnapshot.read(spark, path).schema
    assert(widened == mergeSchemaOf(path))
    assert(widened.fieldNames.toSeq ==
      Seq("id", "name", "created_at", "updated_at", "epss", PartitionedSnapshot.BucketCol))
    // initEmpty: the schema a mergeSchema read took from the zero-row
    // partition the layout used to write for it
    val empty = Merge.init(Seq.empty[(String, Double)].toDF("id", "score"), t0)
    PartitionedSnapshot.initEmpty(empty, s"$work/empty", "id", buckets = 8)
    empty.coalesce(1).write.parquet(s"$work/zero_row/${PartitionedSnapshot.BucketCol}=-1")
    assert(PartitionedSnapshot.read(spark, s"$work/empty").schema == mergeSchemaOf(s"$work/zero_row"))
    // No footer is opened to resolve the schema: with an untouched
    // bucket's data file unreadable, the read still resolves and a lookup
    // that prunes to another bucket still answers.
    val bucket3 = PartitionedSnapshot.read(spark, path).filter($"id" === 3)
      .select(PartitionedSnapshot.BucketCol).head().getInt(0)
    val victim = (0 until 8).find(b => b != bucket3 && !touched.contains(b.toLong)).get
    new java.io.File(s"$path/${PartitionedSnapshot.BucketCol}=$victim").listFiles
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.write(f.toPath, "not parquet".getBytes))
    val r = PartitionedSnapshot.read(spark, path)
    assert(r.schema == widened)
    assert(r.filter($"id" === 3).select("epss").as[Double].collect().toSeq == Seq(0.5))
  }

  test("a widening delta's column reads null in untouched buckets, and its crash window converges") {
    import spark.implicits._
    val work = SparkSpec.tempDir("psnap_widen").toString
    val path = s"$work/snap"
    val snap0 = Merge.init(spark.range(0, 100).select($"id", lit("x").as("v")), t0)
    PartitionedSnapshot.init(snap0, path, "id", buckets = 8)
    val conf = spark.sparkContext.hadoopConfiguration
    FileUtil.copy(fs, new Path(path), fs, new Path(s"$work/pre"), false, conf)
    val delta = Seq((5L, 0.97), (42L, 0.31), (999L, 0.55)).toDF("id", "epss")
    val touched = PartitionedSnapshot.mergeDelta(spark, path, delta, "id", t1)
    assert(touched.size < 8)
    def epssById(df: DataFrame) =
      df.select("id", "epss").as[(Long, Option[Double])].collect().toMap
    // pinned: the crash simulation below replaces the files it read
    val after = PartitionedSnapshot.read(spark, path).localCheckpoint()
    val got = epssById(after)
    assert(got.size == 101)
    assert(got(5L).contains(0.97) && got(42L).contains(0.31) && got(999L).contains(0.55))
    assert((got -- Seq(5L, 42L, 999L)).values.forall(_.isEmpty))
    val untouchedIds = after.filter(!col(PartitionedSnapshot.BucketCol).isin(touched: _*))
      .select("id").as[Long].collect()
    assert(untouchedIds.nonEmpty && untouchedIds.forall(got(_).isEmpty))

    // The crash window: the widened sidecar committed, no bucket swapped
    // yet. Put the pre-merge bucket dirs back.
    touched.foreach { b =>
      val d = s"${PartitionedSnapshot.BucketCol}=$b"
      fs.delete(new Path(s"$path/$d"), true)
      if (fs.exists(new Path(s"$work/pre/$d")))
        FileUtil.copy(fs, new Path(s"$work/pre/$d"), fs, new Path(s"$path/$d"), false, conf)
    }
    val crashed = PartitionedSnapshot.read(spark, path)
    assert(crashed.schema.fieldNames.contains("epss"))
    assert(crashed.filter($"epss".isNotNull).isEmpty)
    assert(sameRows(crashed.select("id", "v", "created_at", "updated_at"),
      snap0.select("id", "v", "created_at", "updated_at")))
    // re-running the merge converges on the uncrashed result
    PartitionedSnapshot.mergeDelta(spark, path, delta, "id", t1)
    val rerun = PartitionedSnapshot.read(spark, path)
    assert(rerun.schema == after.schema)
    assert(sameRows(rerun, after))
  }

  test("a key predicate scans only the buckets of its literals") {
    import spark.implicits._
    val work = SparkSpec.tempDir("psnap_prune").toString
    val path = s"$work/snap"
    PartitionedSnapshot.init(
      Merge.init((0 until 64).map(i => (s"k$i", i)).toDF("id", "n"), t0),
      path, "id", buckets = 8)
    val plain = spark.read.parquet(path)
    // where each key's row actually lives, from the unpruned read
    val home = plain.select("id", PartitionedSnapshot.BucketCol).as[(String, Int)].collect().toMap
    def check(pred: Column, keys: Seq[String]): Unit = {
      val df = PartitionedSnapshot.read(spark, path).filter(pred)
      assert(scannedBuckets(df) == keys.map(home).toSet, s"$pred")
      assert(sameRows(df, plain.filter(pred)), s"$pred")
      assert(df.count() == keys.size, s"$pred")
    }
    check($"id" === "k7", Seq("k7"))
    check(lit("k7") === $"id", Seq("k7"))
    check($"id".isin("k3", "k40"), Seq("k3", "k40"))
    check($"id".isin("k3", null), Seq("k3"))
    // more literals than OptimizeIn keeps as a list: an InSet
    val many = (0 until 12).map(i => s"k${i * 5}")
    check($"id".isin(many: _*), many)
    // a key with no row prunes to its (empty) bucket all the same
    assert(PartitionedSnapshot.read(spark, path).filter($"id" === "absent").isEmpty)
  }

  test("the pruning rule leaves a cast key and an untagged scan alone") {
    import spark.implicits._
    val work = SparkSpec.tempDir("psnap_noprune").toString
    val path = s"$work/snap"
    PartitionedSnapshot.init(
      Merge.init(spark.range(0, 64).select($"id", ($"id" * 2).as("n")), t0),
      path, "id", buckets = 8)
    val plain = spark.read.parquet(path)
    val cast = PartitionedSnapshot.read(spark, path).filter($"id".cast("string") === "5")
    val untagged = plain.filter($"id" === 5)
    for (df <- Seq(cast, untagged)) {
      val optimized = df.queryExecution.optimizedPlan
      assert(BucketPruning(optimized) == optimized)
      assert(!optimized.collect { case f: Filter => f.condition }
        .exists(_.references.exists(_.name == PartitionedSnapshot.BucketCol)))
      assert(scannedBuckets(df) == (0 until 8).toSet)
    }
    assert(sameRows(cast, plain.filter($"id" === 5)))
    assert(untagged.count() == 1)
    // and is idempotent where it does fire
    val pruned = PartitionedSnapshot.read(spark, path).filter($"id" === 5).queryExecution.optimizedPlan
    assert(BucketPruning(pruned) == pruned)
  }

  test("the sidecar is replaced whole: a stray temp sidecar is ignored, a schema-less one fails loudly") {
    import spark.implicits._
    val work = SparkSpec.tempDir("psnap_meta").toString
    val path = s"$work/snap"
    PartitionedSnapshot.init(
      Merge.init(spark.range(0, 40).select($"id", lit("x").as("v")), t0),
      path, "id", buckets = 4)
    // a crash mid-write of a rewrite leaves a torn temp sidecar
    Files.write(Paths.get(s"$path/_graft_buckets.tmp"), "4\nid\n{\"type\":\"str".getBytes)
    assert(PartitionedSnapshot.numBuckets(spark, path) == 4)
    assert(PartitionedSnapshot.read(spark, path).count() == 40)
    // a widening merge replaces the sidecar through the temp name
    PartitionedSnapshot.mergeDelta(spark, path, Seq((1L, 0.5)).toDF("id", "epss"), "id", t1)
    assert(PartitionedSnapshot.numBuckets(spark, path) == 4)
    val r = PartitionedSnapshot.read(spark, path)
    assert(r.count() == 40)
    assert(r.filter($"id" === 1).select("epss").as[Double].collect().toSeq == Seq(0.5))
    assert(!Files.exists(Paths.get(s"$path/_graft_buckets.tmp")))
    // a two-line sidecar names the schema line it lacks
    Files.write(Paths.get(s"$path/_graft_buckets"), "4\nid".getBytes)
    val e = intercept[IllegalArgumentException](PartitionedSnapshot.read(spark, path))
    assert(e.getMessage.contains("no schema line"))
  }
}
