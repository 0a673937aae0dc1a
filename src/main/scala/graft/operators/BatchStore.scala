package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** An append-only, batch-partitioned store with tombstones — the format
  * of the daily tick's shingle store and raw-vector store. Its only
  * parameters are format facts: the root `path`, the long `id` column,
  * the `payload` columns (the FIRST is the tombstone column) and an
  * optional `(column, count)` hash bucket of the id.
  *
  * Layout: one `batch=<id>` directory per tick (and, with buckets, one
  * `<bucket>=<b>` directory under it). The rules:
  *
  *  - WRITE: a tick writes its live rows plus ONE null-payload row per
  *    removed id as a wholesale overwrite of its own `batch=<id>`
  *    partition ([[write]]), so a re-run replaces its earlier (possibly
  *    partial) attempt instead of doubling it.
  *  - LWW: the latest stored batch per id wins; a row whose latest
  *    batch carries a null tombstone column is DELETED, and re-landing
  *    the id in a later batch supersedes the tombstone ([[live]],
  *    [[liveBefore]], [[deleted]]).
  *  - SWEEP: a partition above the committed seq can only be a crashed
  *    attempt's, and [[heal]] deletes it at tick start.
  *  - CONSOLIDATION ([[consolidate]]): the COMMITTED live rows are
  *    republished as ONE partition stamped with the committed batch,
  *    while the IN-FLIGHT batch's partition is carried over VERBATIM
  *    (tombstones included), through one crash-safe whole-dir replace.
  *    Consolidating committed data only keeps the sweep honest: a tick
  *    that crashes before its marker and re-runs with a DIFFERENT delta
  *    (a violation of the delta-as-function-of-seq contract) finds every
  *    one of its rows still in a sweepable partition, so no ghost rows —
  *    or ghost deletes — are ever baked into committed-looking data.
  *    After it, committed tombstones are physical and the store is down
  *    to two directories.
  *
  * CONTRACT on the consolidation cadence: [[deleted]]'s null scan lists
  * and footer-probes every `batch=` partition, so its control-plane cost
  * is O(ticks since the last consolidation). A deployment that never
  * consolidates keeps exact answers but pays a listing that grows one
  * partition per tick.
  */
final case class BatchStore(path: String, id: String, payload: Seq[StructField],
                            bucket: Option[(String, Int)] = None) {
  private val tomb = payload.head.name
  private val rowCols = (id +: payload.map(_.name)).map(col)

  /** The fixed read schema: id, payload, `batch`, then the bucket column.
    * Never inferred — a day-zero store has no files to infer from. */
  val schema: StructType = StructType(
    (StructField(id, LongType) +: payload :+ StructField("batch", LongType)) ++
      bucket.map(b => StructField(b._1, LongType)))

  /** Every stored row, tombstones and superseded versions included. */
  def raw(spark: SparkSession): DataFrame = spark.read.schema(schema).parquet(path)

  /** The live rows of batches `<= upTo` (the corpus read): latest batch
    * per id, tombstoned ids dropped. */
  def live(spark: SparkSession, upTo: Long): DataFrame =
    latest(spark, col("batch") <= lit(upTo))

  /** The live rows of batches STRICTLY before `batchId` in the given
    * buckets of a bucketed store (the verify read). Both predicates are
    * partition filters, so the scan opens only those files; the LWW
    * window then runs over the pruned subset. The in-flight batch is
    * excluded structurally, so a re-run batch cannot see its own earlier
    * attempt. */
  def liveBefore(spark: SparkSession, batchId: Long, buckets: Seq[Long]): DataFrame =
    latest(spark, col("batch") < lit(batchId) && col(bucket.get._1).isin(buckets: _*))

  private def latest(spark: SparkSession, keep: Column): DataFrame =
    raw(spark).filter(keep)
      .withColumn("latest", max("batch").over(Window.partitionBy(id)))
      .filter(col("batch") === col("latest") && col(tomb).isNotNull)
      .select(rowCols: _*)

  /** Ids whose LATEST batch `<= upTo` is a tombstone, or None when the
    * store holds no tombstone row at all — the driver learns that from
    * the null scan alone, so callers skip building anti-joins. A
    * tombstone batch holds exactly one row per removed id, so "latest
    * batch is null" is exact. Bucketed stores only; the cost is
    * O(tombstoned buckets): a columnar null scan (parquet null-count
    * stats skip clean pages) collects the tombstones' buckets (≤ bucket
    * count values) and only those buckets' files feed the latest-batch
    * aggregate. */
  def deletedOpt(spark: SparkSession, upTo: Long): Option[DataFrame] = {
    val b = bucket.get._1
    val r = raw(spark).filter(col("batch") <= lit(upTo))
    val bs = r.filter(col(tomb).isNull).select(b).distinct()
      .collect().map(_.getLong(0)).toSeq
    if (bs.isEmpty) None
    else Some(r.filter(col(b).isin(bs: _*))
      .groupBy(id)
      .agg(max("batch").as("latest"),
           max(when(col(tomb).isNull, col("batch"))).as("tomb"))
      .filter(col("tomb").isNotNull && col("tomb") === col("latest"))
      .select(id))
  }

  /** [[deletedOpt]], empty (one `id` column) when nothing is deleted. */
  def deleted(spark: SparkSession, upTo: Long): DataFrame =
    deletedOpt(spark, upTo).getOrElse(spark.range(0).select(col("id").as(id)))

  /** The tick's partition: `rows` (the id and the payload columns; a
    * payload column it lacks lands as null) plus one null-payload row per
    * id in `removed`, as a wholesale overwrite of `batch=<batchId>`. */
  def write(batchId: Long, rows: DataFrame, removed: Option[DataFrame] = None): Unit = {
    def project(df: DataFrame) = df.select(col(id) +: payload.map { f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    }: _*)
    val data = project(rows)
    writeTo(path, batchId,
      removed.map(r => data.unionByName(project(r.select(id)))).getOrElse(data))
  }

  /** Overwrite `root/batch=<batchId>` with `rows`, each bucket clustered
    * into one task (the BandIndex.write small-files reasoning). */
  private def writeTo(root: String, batchId: Long, rows: DataFrame): Unit =
    (bucket match {
      case Some((b, n)) =>
        rows.withColumn(b, PartitionedSnapshot.bucketOf(col(id), n))
          .repartition(n, col(b)).write.partitionBy(b)
      case None => rows.write
    }).mode("overwrite").parquet(s"$root/batch=$batchId")

  /** Consolidation (the physical delete and the partition-count bound):
    * see the class doc. Both partitions are written UNCONDITIONALLY — an
    * emptiness probe would run the O(corpus) LWW window twice, and an
    * empty partition is harmless under the fixed-schema reads. */
  def consolidate(spark: SparkSession, committed: Long, inflight: Long): Unit =
    graft.SnapshotIO.replace(spark.sparkContext.hadoopConfiguration, path) { stage =>
      writeTo(stage, committed, live(spark, committed))
      writeTo(stage, inflight,
        raw(spark).filter(col("batch") === lit(inflight)).select(rowCols: _*))
    }

  /** Tick start: restore a consolidation a crash left mid-swap (before
    * anything lists the store), create a day-zero store's directory (the
    * fixed-schema reads need a path), and sweep every `batch=`
    * partition above `committed`. */
  def heal(spark: SparkSession, committed: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    graft.SnapshotIO.recover(conf, path)
    val f = graft.SnapshotIO.fs(conf, path)
    val dir = new Path(path)
    if (!f.exists(dir)) f.mkdirs(dir)
    else f.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.split("=", 2) match {
        case Array("batch", v) => v.toLongOption.exists(_ > committed)
        case _ => false
      })
      .foreach(f.delete(_, true))
  }
}
