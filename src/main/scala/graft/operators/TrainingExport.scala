package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The last mile of a training-data pipeline: emit the curated corpus as
  * a FIXED number of deterministically-shuffled JSONL shards plus a
  * content manifest.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - shard id and within-shard order both derive from xxhash64(doc_id) —
  *    a reproducible "shuffle" with no rand(), so re-running the export
  *    yields byte-identical shards (resumable, diffable, cacheable);
  *  - ONE hash-partitioned exchange moves each row straight to its
  *    shard's writer task (`repartition(n, shard)` + partitionBy dirs);
  *    no global sort, no driver involvement in data;
  *  - the manifest aggregates per-shard row counts and an order-insensitive
  *    content digest (modular sum of per-line xxhash64) — verifiable downstream
  *    without re-reading in order, and computed in the same single pass
  *    shape (one small agg, collect of n rows of control-plane).
  */
object TrainingExport {
  val ShardCol = "shard"
  val ManifestFile = "_manifest.json"

  /** Deterministic shard assignment + within-shard sort key. */
  def assignShards(docs: DataFrame, numShards: Int, key: String = "doc_id"): DataFrame =
    assignShardsBy(docs, numShards, xxhash64(col(key)))

  /** Shard assignment from an arbitrary 64-bit hash column (the
    * oracle-parity twin passes a portable polynomial hash; production
    * stays on xxhash64). */
  def assignShardsBy(docs: DataFrame, numShards: Int, h: org.apache.spark.sql.Column): DataFrame =
    docs
      .withColumn("_h", h)
      .withColumn(ShardCol, pmod(col("_h"), lit(numShards.toLong)))

  /** The manifest as a DataFrame: per-shard row count + order-insensitive
    * content digest of `rowHash` (any 64-bit per-row hash column). One
    * partial/final aggregate pair on shard — the same single-pass shape
    * whether the result is collected (exportJsonl's n-row control-plane
    * manifest) or left distributed (the q93 catalog entry). */
  def manifestOf(assigned: DataFrame, rowHash: org.apache.spark.sql.Column): DataFrame =
    assigned
      .groupBy(col(ShardCol))
      .agg(count(lit(1)).as("n_rows"), contentHash(rowHash))
      .orderBy(ShardCol)

  /** Export `docs` as `numShards` JSONL shards under `path` (directory per
    * shard via partitionBy; exactly one file per shard because each shard's
    * rows are co-located by the repartition). Returns the manifest rows
    * (shard, rows, content_hash). */
  def exportJsonl(docs: DataFrame, path: String, numShards: Int,
                  key: String = "doc_id"): Seq[(Long, Long, Long)] = {
    require(!docs.columns.exists(Set(ShardCol, "_h", "line")),
      s"input must not already contain ${Set(ShardCol, "_h", "line")} columns")
    val spark = docs.sparkSession
    val assigned = assignShards(docs, numShards, key)
    // The serialized lines feed BOTH the shard write and the manifest agg
    // (reuse pitfall: an unpersisted frame re-executes its upstream per
    // consumer — here that would serialize every row to JSON twice).
    val lines = assigned
      .withColumn("line", to_json(struct(docs.columns.map(col): _*)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // The sort LEADS with the partition column: FileFormatWriter
      // requires partition-column ordering and would otherwise insert a
      // second sort on shard whose spill-merge does not preserve the
      // (_h, key) order of equal shard keys — silently breaking the
      // byte-identical-re-export guarantee under memory pressure. One
      // sort, order guaranteed by construction.
      lines
        .repartition(numShards, col(ShardCol))
        .sortWithinPartitions(col(ShardCol), col("_h"), col(key))
        .select(col(ShardCol), col("line"))
        .write.partitionBy(ShardCol).mode("overwrite").text(path)
      // Manifest: per-shard row count + order-insensitive content digest.
      val manifest = manifestOf(lines, xxhash64(col("line")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      writeManifest(spark, path, manifest)
      manifest
    } finally lines.unpersist()
  }

  /** Order-insensitive content digest: Σ (rowHash mod P) mod P, summed
    * in DECIMAL(38) — commutative/associative so any aggregation order
    * agrees, and overflow-free at any row count (ANSI mode would throw
    * on a wrapping long sum). */
  val HashP = 1000000007L
  private def contentHash(rowHash: org.apache.spark.sql.Column) =
    pmod(sum(pmod(rowHash, lit(HashP))
               .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
         lit(HashP)).cast("long").as("content_hash")

  private def writeManifest(spark: SparkSession, path: String,
                            m: Seq[(Long, Long, Long)]): Unit = {
    val json = m.map { case (s, r, h) =>
      s"""{"shard":$s,"rows":$r,"content_hash":$h}"""
    }.mkString("[\n", ",\n", "\n]")
    // the filesystem OF `path`, like the shard data's per-path writer
    val out = graft.SnapshotIO.fs(spark.sparkContext.hadoopConfiguration, path)
      .create(new Path(path, ManifestFile), true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Re-derive the manifest from exported shards (downstream check). */
  def verify(spark: SparkSession, path: String): Seq[(Long, Long, Long)] =
    spark.read.text(s"$path/$ShardCol=*")
      .withColumn(ShardCol,
        regexp_extract(input_file_name(), s"$ShardCol=(\\d+)", 1).cast("long"))
      .groupBy(col(ShardCol))
      .agg(count(lit(1)).as("n_rows"), contentHash(xxhash64(col("value"))))
      .orderBy(ShardCol)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
}
