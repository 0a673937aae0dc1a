package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The bounded-MERGE shape for a 100 TB snapshot (SURVEY K1 scale note;
  * Merge.scala header): partition the snapshot on a stable hash-bucket of
  * the key, and on each tick rewrite ONLY the partitions that contain
  * delta keys — every other partition's files are untouched bytes.
  *
  * This is what a table format's MERGE INTO does behind the scenes
  * (rewrite matching files, keep the rest); on plain parquet we get the
  * same bound via staged writes + per-bucket crash-safe swaps:
  *
  *  - bucket = pmod(xxhash64(key), n) — deterministic, uniform, stable
  *    across ticks, so a key always lands in the same partition;
  *  - the delta's touched buckets are a tiny control-plane collect
  *    (≤ n values);
  *  - the snapshot read is pruned to touched partitions (partition
  *    pruning on the directory column — untouched data is never read);
  *  - the rewritten buckets are staged and then swapped into place one
  *    directory at a time via SnapshotIO (backup-then-rename), so no
  *    crash point loses a bucket.
  *
  * Cost per tick: O(|delta| + |touched partitions|), not O(|snapshot|) —
  * with n sized so a partition is a few GB, a small delta rewrites a few
  * GB instead of 100 TB.
  */
object PartitionedSnapshot {
  val BucketCol = "id_bucket"
  private val MetaFile = "_graft_buckets"

  def bucketOf(key: Column, numBuckets: Int): Column =
    pmod(xxhash64(key), lit(numBuckets.toLong))

  /** Bucket count AND merge key are layout state, so they live WITH the
    * layout: a sidecar file (`<buckets>\n<key>`), not parameters the
    * caller must keep consistent forever — [[mergeDelta]] validates the
    * caller's key against the recorded one, so merging a snapshot under
    * the wrong key fails loudly instead of scattering rows. */
  private def writeMeta(spark: SparkSession, path: String, n: Int,
                        key: String): Unit = {
    val out = graft.SnapshotIO.fs(spark.sparkContext.hadoopConfiguration, path)
      .create(new Path(path, MetaFile), true)
    try out.write(s"$n\n$key".getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readMeta(spark: SparkSession, path: String): (Int, String) = {
    val in = graft.SnapshotIO.fs(spark.sparkContext.hadoopConfiguration, path)
      .open(new Path(path, MetaFile))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.split("\n", 2)
      finally in.close()
    (lines(0).trim.toInt, lines(1).trim)
  }

  def numBuckets(spark: SparkSession, path: String): Int =
    readMeta(spark, path)._1

  /** The merge key the layout was created with. */
  def keyOf(spark: SparkSession, path: String): String =
    readMeta(spark, path)._2

  /** Read the whole snapshot. Partitions can disagree on schema after a
    * widening delta (only touched partitions gain the new columns), so
    * every read goes through mergeSchema — absent columns surface as
    * null, exactly the full-merge semantics. At 100 TB the union schema
    * would live in a metastore/table format instead of being inferred
    * from footers. */
  def read(spark: SparkSession, path: String): DataFrame = {
    // Heal any bucket left mid-swap by a crashed mergeDelta first — a
    // bucket sitting at its backup name would otherwise silently vanish
    // from the scan.
    graft.SnapshotIO.recoverAll(spark.sparkContext.hadoopConfiguration, path)
    spark.read.option("mergeSchema", "true").parquet(path)
  }

  /** Write the initial bucketed snapshot (df must be Merge.init'ed).
    * Each bucket is clustered into one task before the partitioned write
    * (the same small-files reasoning as [[mergeDelta]]'s staging write);
    * the sidecar commits LAST, so a crash mid-init leaves an
    * uninitialized layout that simply re-runs. */
  def init(df: DataFrame, path: String, key: String = "id",
           buckets: Int = 64): DataFrame = {
    val spark = df.sparkSession
    df.withColumn(BucketCol, bucketOf(col(key), buckets))
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol).mode("overwrite").parquet(path)
    writeMeta(spark, path, buckets, key)
    spark.read.parquet(path)
  }

  /** Whether the layout sidecar exists — the day-zero probe. */
  def isInitialized(spark: SparkSession, path: String): Boolean =
    graft.SnapshotIO.fs(spark.sparkContext.hadoopConfiguration, path)
      .exists(new Path(path, MetaFile))

  /** Day-zero commit of an EMPTY bucketed snapshot: a `partitionBy` write
    * of zero rows produces no partition directories, leaving nothing for
    * schema inference — so the schema is carried by a SENTINEL partition
    * outside the hash range (`id_bucket=-1`, one zero-row parquet file).
    * [[read]] surfaces its zero rows harmlessly; [[mergeDelta]] never
    * touches it (pmod is 0..n-1). Crash-safe: the sidecar commits last,
    * so a half-written init is simply re-run. `empty` must be
    * Merge.init'ed and carry zero rows. */
  def initEmpty(empty: DataFrame, path: String, key: String = "id",
                buckets: Int = 64): Unit = {
    val spark = empty.sparkSession
    empty.limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/$BucketCol=-1")
    writeMeta(spark, path, buckets, key)
  }

  /** Merge `delta` into the snapshot at `path`, rewriting only the
    * partitions its keys hash into. Returns the touched bucket ids.
    * `postMerge` runs over each touched bucket's merged rows before the
    * write — the hook for bucket-local derived columns (the CVE
    * snapshot's priority recompute); it must be row-local, or untouched
    * buckets would silently hold stale values. */
  def mergeDelta(spark: SparkSession, path: String, delta: DataFrame,
                 key: String = "id",
                 now: Column = current_timestamp(),
                 postMerge: DataFrame => DataFrame = identity): Seq[Long] = {
    val (n, storedKey) = readMeta(spark, path)
    require(storedKey == key,
      s"snapshot at $path is keyed on '$storedKey', merge asked for '$key'")
    val deltaB = delta.withColumn(BucketCol, bucketOf(col(key), n))
    // Control-plane: which partitions does this delta touch? ≤ n values.
    val touched = deltaB.select(BucketCol).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    if (touched.nonEmpty) {
      // Partition-pruned read, pruned at the LISTING level (r21): the
      // old form read the snapshot ROOT with mergeSchema, which lists
      // and footer-probes EVERY bucket's files before the filter prunes
      // — an O(all buckets) control-plane job per tick. Listing only
      // the touched directories makes the merge's read O(touched) in
      // listing and schema work too. Semantics are unchanged: the rows
      // are exactly the touched buckets' rows either way, and a column
      // that exists only in UNTOUCHED buckets merely stays absent from
      // the rewritten buckets instead of riding along as all-nulls —
      // the mergeSchema read surfaces both identically as null. Heal
      // first (read() did it): a bucket mid-swap must not be mistaken
      // for a brand-new one. Brand-new buckets (no directory yet) fall
      // back to the full read ONCE for its union schema — at most once
      // per bucket lifetime.
      val conf = spark.sparkContext.hadoopConfiguration
      graft.SnapshotIO.recoverAll(conf, path)
      val hfs = graft.SnapshotIO.fs(conf, path)
      val touchedDirs = touched.map(b => s"$path/$BucketCol=$b")
        .filter(d => hfs.exists(new Path(d)))
      val snapTouched =
        (if (touchedDirs.nonEmpty)
          // a touched bucket with NO directory yet is brand-new and
          // contributes no rows — exactly what the filtered full read
          // returned for it
          spark.read.option("mergeSchema", "true").option("basePath", path)
            .parquet(touchedDirs: _*)
        else // every touched bucket is new: only the sentinel carries
             // the snapshot schema — the one case that needs a root read
          read(spark, path).filter(col(BucketCol).isin(touched: _*)))
        .drop(BucketCol)
      val merged = postMerge(
        Merge.upsert(snapTouched, deltaB.drop(BucketCol), key, now))
        .withColumn(BucketCol, bucketOf(col(key), n))
      // Write the touched buckets to a staging dir, then move each into
      // place with the crash-safe backup-then-rename swap — dynamic
      // partition overwrite would delete-then-replace and a crash at
      // commit could destroy a bucket. A crash mid-loop leaves each
      // bucket either fully-old or fully-new (never partial/lost);
      // because the upsert is idempotent (T4), re-running the same tick
      // converges the mixed state. At 100 TB a table format's atomic
      // multi-file commit replaces this.
      val staging = path + "_delta_tmp"
      hfs.delete(new Path(staging), true)
      // cluster each bucket into one task before the partitioned write
      // (the BandIndex.write small-files reasoning): without this every
      // upsert shuffle partition writes a sliver into every touched
      // directory — touched × partitions files per tick, and the next
      // tick's pruned read opens all of them
      merged.repartition(col(BucketCol))
        .write.partitionBy(BucketCol).mode("overwrite").parquet(staging)
      touched.foreach { b =>
        graft.SnapshotIO.swap(conf,
          s"$staging/$BucketCol=$b", s"$path/$BucketCol=$b")
      }
      hfs.delete(new Path(staging), true)
    }
    touched
  }
}
