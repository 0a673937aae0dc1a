package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

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
  * The layout sidecar holds the bucket count, the key and the UNION
  * schema of every bucket, the table metadata a table format keeps: a
  * read takes its schema from there instead of merging every bucket's
  * footers, a bucket written before a widening delta reads the new
  * columns as null, and a key lookup is pruned to its one bucket by
  * [[BucketPruning]].
  *
  * Cost per tick: O(|delta| + |touched partitions|), not O(|snapshot|) —
  * with n sized so a partition is a few GB, a small delta rewrites a few
  * GB instead of 100 TB. A point read on the key costs one bucket.
  */
object PartitionedSnapshot {
  val BucketCol = "id_bucket"
  private val MetaFile = "_graft_buckets"

  /** Reader options that tag a snapshot scan with its layout, so
    * [[BucketPruning]] can map a key predicate to its buckets. */
  private[operators] val KeyOption = "graft.bucket_key"
  private[operators] val BucketsOption = "graft.buckets"

  def bucketOf(key: Column, numBuckets: Int): Column =
    pmod(xxhash64(key), lit(numBuckets.toLong))

  /** [[bucketOf]] evaluated on a literal key — the write's own
    * expression, its functions resolved from the builtin registry — for
    * the read-side pruning ([[BucketPruning]]). */
  private[operators] def bucketOfLiteral(key: Literal, numBuckets: Int): Long =
    expression(bucketOf(col("key"), numBuckets)).transformUp {
      case _: UnresolvedAttribute => key
      case f: UnresolvedFunction =>
        FunctionRegistry.builtin.lookupFunction(FunctionIdentifier(f.nameParts.last), f.arguments)
    }.eval().asInstanceOf[Long]

  /** Bucket count, merge key and union data schema are layout state, so
    * they live WITH the layout: a sidecar file
    * (`<buckets>\n<key>\n<schema json>`), not parameters the caller must
    * keep consistent forever — [[mergeDelta]] validates the caller's key
    * against the recorded one, so merging a snapshot under the wrong key
    * fails loudly instead of scattering rows. */
  private case class Meta(buckets: Int, key: String, schema: StructType)

  private def metaPath(path: String) = new Path(path, MetaFile)

  /** Committed through [[graft.SnapshotIO.writeRecord]]: a crash leaves
    * the old sidecar or the new one, never a torn one that
    * [[isInitialized]] would still report. */
  private def writeMeta(spark: SparkSession, path: String, m: Meta): Unit =
    graft.SnapshotIO.writeRecord(spark.sparkContext.hadoopConfiguration,
      metaPath(path), s"${m.buckets}\n${m.key}\n${m.schema.json}")

  private def readMeta(spark: SparkSession, path: String): Meta = {
    val text = graft.SnapshotIO.readRecord(spark.sparkContext.hadoopConfiguration,
      metaPath(path)).getOrElse(throw new java.io.FileNotFoundException(
        s"no layout sidecar at $path/$MetaFile: not a partitioned snapshot"))
    val lines = text.split("\n", 3)
    require(lines.length == 3 && lines(2).trim.nonEmpty,
      s"layout sidecar $path/$MetaFile has no schema line (line 3, the union " +
        "schema as StructType JSON): the snapshot predates stored schemas; rebuild it")
    Meta(lines(0).trim.toInt, lines(1).trim,
      DataType.fromJson(lines(2).trim).asInstanceOf[StructType])
  }

  def numBuckets(spark: SparkSession, path: String): Int =
    readMeta(spark, path).buckets

  /** A reader with the stored union schema (data columns, then the int
    * bucket column, as partition inference would type it) and the layout
    * tags [[BucketPruning]] reads. */
  private def reader(spark: SparkSession, m: Meta): DataFrameReader =
    spark.read.schema(m.schema.add(BucketCol, IntegerType))
      .option(KeyOption, m.key).option(BucketsOption, m.buckets.toString)

  /** Read the whole snapshot with the sidecar's union schema: a column
    * that only some buckets' files carry (a widening delta rewrites only
    * touched buckets) reads as null elsewhere, exactly the full-merge
    * semantics, and no footer is opened to find the schema. A filter
    * `key = lit` or `key IN (lits)` on the result scans only the
    * literals' buckets. */
  def read(spark: SparkSession, path: String): DataFrame = {
    // Heal any bucket left mid-swap by a crashed mergeDelta first — a
    // bucket sitting at its backup name would otherwise silently vanish
    // from the scan.
    graft.SnapshotIO.recoverAll(spark.sparkContext.hadoopConfiguration, path)
    reader(spark, readMeta(spark, path)).parquet(path)
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
    writeMeta(spark, path, Meta(buckets, key, df.schema))
    read(spark, path)
  }

  /** Whether the layout sidecar exists — the day-zero probe. */
  def isInitialized(spark: SparkSession, path: String): Boolean =
    graft.SnapshotIO.fs(spark.sparkContext.hadoopConfiguration, path)
      .exists(metaPath(path))

  /** Day-zero commit of an EMPTY bucketed snapshot: only the sidecar,
    * whose stored schema is `empty`'s, so [[read]] returns zero rows of
    * that schema before any bucket exists. `empty` must be Merge.init'ed;
    * only its schema is used. */
  def initEmpty(empty: DataFrame, path: String, key: String = "id",
                buckets: Int = 64): Unit =
    writeMeta(empty.sparkSession, path, Meta(buckets, key, empty.schema))

  /** The keyed sink: the first write commits an EMPTY layout with
    * `delta`'s schema (Merge.init'ed), then `delta` merges exactly like
    * every later one, so the first batch and the hundredth take the same
    * bounded path. Returns the touched bucket ids. */
  def upsert(delta: DataFrame, path: String, key: String, buckets: Int,
             now: Column = current_timestamp()): Seq[Long] = {
    val spark = delta.sparkSession
    if (!isInitialized(spark, path))
      initEmpty(Merge.init(delta.limit(0)), path, key, buckets)
    mergeDelta(spark, path, delta, key, now)
  }

  /** The stored schema widened by `merged`'s new columns, appended in
    * `merged`'s order. A stored column whose type changed fails loudly:
    * the untouched buckets' files still carry the stored type. */
  private def widen(path: String, stored: StructType, merged: StructType): StructType = {
    merged.fields.foreach { f =>
      stored.find(_.name == f.name).foreach { s =>
        require(DataTypeUtils.equalsIgnoreNullability(s.dataType, f.dataType),
          s"snapshot at $path stores '${f.name}' as ${s.dataType.simpleString}, " +
            s"the merge produced ${f.dataType.simpleString}")
      }
    }
    StructType(stored.fields ++ merged.fields.filterNot(f => stored.fieldNames.contains(f.name)))
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
    val m = readMeta(spark, path)
    require(m.key == key,
      s"snapshot at $path is keyed on '${m.key}', merge asked for '$key'")
    val deltaB = delta.withColumn(BucketCol, bucketOf(col(key), m.buckets))
    // Control-plane: which partitions does this delta touch? ≤ n values.
    val touched = deltaB.select(BucketCol).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    if (touched.nonEmpty) {
      // The snapshot side reads only the touched directories, with the
      // stored schema: no file listing, footer or row of an untouched
      // bucket is opened. Heal first (read() does it): a bucket mid-swap
      // must not be mistaken for a brand-new one. A touched bucket with
      // no directory yet is brand-new and contributes no rows.
      val conf = spark.sparkContext.hadoopConfiguration
      graft.SnapshotIO.recoverAll(conf, path)
      val hfs = graft.SnapshotIO.fs(conf, path)
      val present = hfs.listStatus(new Path(path)).map(_.getPath.getName).toSet
      val touchedDirs = touched.map(b => s"$BucketCol=$b").filter(present)
        .map(d => s"$path/$d")
      val snapTouched =
        if (touchedDirs.nonEmpty)
          reader(spark, m).option("basePath", path).parquet(touchedDirs: _*)
            .drop(BucketCol)
        else spark.createDataFrame(java.util.Collections.emptyList[Row](), m.schema)
      val merged = postMerge(
        Merge.upsert(snapTouched, deltaB.drop(BucketCol), key, now))
      // stored column order, new columns last: every bucket's files then
      // carry a prefix of the stored schema
      val schema = widen(path, m.schema, merged.schema)
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
      merged.select(schema.fieldNames.map(col): _*)
        .withColumn(BucketCol, bucketOf(col(key), m.buckets))
        .repartition(col(BucketCol))
        .write.partitionBy(BucketCol).mode("overwrite").parquet(staging)
      // A widened schema commits BEFORE the first swap: a crash between
      // the two can expose a new all-null column, never hide a written one.
      if (schema.length > m.schema.length) writeMeta(spark, path, m.copy(schema = schema))
      touched.foreach { b =>
        graft.SnapshotIO.swap(conf,
          s"$staging/$BucketCol=$b", s"$path/$BucketCol=$b")
      }
      hfs.delete(new Path(staging), true)
    }
    touched
  }
}
