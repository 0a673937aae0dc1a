package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CvePipeline, DailyLoop, Main}
import graft.operators.{AnnIndex, BandIndex, PartitionedSnapshot, Similarity}
import graft.streaming.DocsStream

/** The `file:` filesystem with call counters, installed for traced runs
  * through `spark.hadoop.fs.file.impl`. Reads are status, listing and open
  * calls; writes are create, mkdirs, rename and delete calls. In local mode
  * the executors share the JVM, so the counts include task I/O. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._
  override def getFileStatus(f: org.apache.hadoop.fs.Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f)
  }
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: org.apache.hadoop.fs.Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: org.apache.hadoop.fs.Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingFileSystem {
  val reads = new AtomicLong()
  val writes = new AtomicLong()
}

/** Per-layer metrics of a traced run: the op-level ones (Catalyst,
  * scheduler, executors, driver) as a mean per traced op of each kind, the
  * step and source ones per tick, the store ones at the end of the run.
  * Layer names follow graft's modules: Spark's Catalyst (`catalyst.*`),
  * scheduler and executors (`scheduler.*`, `executor.*`), the driver
  * remainder (`driver.*`), the DailyLoop steps (`step.<label>.*`, grouped
  * by JobLabel description without its `tick N: ` prefix), the CVE sources
  * and snapshot, the dedup and ANN stores, and the JVM. */
final class Layers(spark: SparkSession, t: Tracer, p: DailyLoop.Paths,
                   sources: Seq[Layers.SourceStats], gc0: Double) {
  import Layers._

  def metrics(recall: Option[Double]): Map[String, (Double, String)] = {
    val all = t.ops.asScala.toSeq.filter(_.ok)
    val ops = all.filter(_.traced)
    val ticks = ops.filter(_.kind == "tick")
    val nt = math.max(ticks.size, 1).toDouble
    val opIds = ops.map(_.id).toSet
    val jobs = t.jobs.synchronized(t.jobs.values.filter(j => opIds(j.op)).toSeq)
    val tickIds = ticks.map(_.id).toSet
    val tickJobs = jobs.filter(j => tickIds(j.op))
    val stepMetrics = (Steps.map(_._1) :+ "other").flatMap { s =>
      val js = tickJobs.filter(j => stepOf(j.desc) == s)
      Seq(s"step.$s.wall_s" -> (ticks.map(o => unionMs(js.filter(_.op == o.id))).sum / 1000.0 / nt, "s"),
        s"step.$s.jobs" -> (js.size / nt, "count"),
        s"step.$s.task_run_s" -> (js.map(_.taskRunMs).sum / 1000.0 / nt, "s"))
    }
    // op-level metrics per op kind: a tick and a probe differ by orders
    // of magnitude, so each kind's mean is reported on its own
    val opMetrics = OpKinds.flatMap { k =>
      perOp(ops.filter(_.kind == k), jobs).map { case (m, v) => s"$m.$k" -> v }
    }
    val snapFiles = parquetFiles(Paths.get(p.snapshot))
    // tracing overhead: traced against untraced queries of the same kind
    def medians(os: Seq[Op]) = os.filter(_.kind != "tick").groupBy(_.kind)
      .map { case (k, xs) => k -> Stats.median(xs.map(_.seconds)) }
    val (traced, untraced) = (medians(ops), medians(all.filter(!_.traced)))
    val common = traced.keySet.intersect(untraced.keySet).toSeq
    val overhead = if (common.isEmpty) 0.0
      else common.map(traced).sum / common.map(untraced).sum - 1.0
    def perTick(f: SourceStats => Double) =
      if (sources.isEmpty) 0.0 else sources.map(f).sum / sources.size
    Map(
      "sources.parse_s" -> (perTick(_.parseS), "s"),
      "sources.rows_in" -> (perTick(_.rowsIn.toDouble), "count"),
      "cve.delta_ids" -> (perTick(_.deltaIds.toDouble), "count"),
      "snapshot.touched_buckets" -> (perTick(_.touchedBuckets.toDouble), "count"),
      "snapshot.files" -> (snapFiles.size.toDouble, "count"),
      "snapshot.mb" -> (snapFiles.map(Files.size).sum / Mb, "MiB"),
      "dedup.index_chain" -> (BandIndex.chainLength(spark, p.index).toDouble, "count"),
      "dedup.live_pairs" -> (if (!PartitionedSnapshot.isInitialized(spark, p.pairs)) 0.0
        else DocsStream.livePairs(spark, p.pairs, p.store, Long.MaxValue).count().toDouble, "count"),
      "ann.pq_chain" -> (if (!AnnIndex.isBuilt(spark, p.ann)) 0.0
        else AnnIndex.pqChain(spark, p.ann).length.toDouble, "count"),
      "ann.ivfp_chain" -> (if (!AnnIndex.isBuilt(spark, p.annPost)) 0.0
        else AnnIndex.ivfpChain(spark, p.annPost).length.toDouble, "count"),
      "ann.recall_at_k" -> (recall.getOrElse(0.0), "ratio"),
      "jvm.heap_peak_mb" -> (heapPeakMb(), "MiB"),
      "jvm.gc_s" -> (gcSeconds() - gc0, "s"),
      "spark.persisted_rdds" -> (spark.sparkContext.getPersistentRDDs.size.toDouble, "count"),
      "trace.overhead_frac" -> (overhead, "ratio")
    ) ++ stepMetrics ++ opMetrics
  }

  /** Catalyst, scheduler, executor and driver figures of the given ops
    * (all of one kind), as means per op; peak execution memory is the
    * maximum. */
  private def perOp(ops: Seq[Op], allJobs: Seq[t.JobRec]): Seq[(String, (Double, String))] = {
    val n = math.max(ops.size, 1).toDouble
    val ids = ops.map(_.id).toSet
    val jobs = allJobs.filter(j => ids(j.op))
    // catalyst: a query belongs to the op open at the end of its planning
    // phase (op times are monotonic; shift to the epoch)
    val shift = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val qs = t.queries.asScala.toSeq.filter(q => ops.exists(o =>
      o.startNs / 1000000L + shift <= q.endMs && q.endMs <= o.endNs / 1000000L + shift))
    val jobWallMs = ops.map(o => unionMs(jobs.filter(_.op == o.id))).sum
    val spanMs = ops.map(o => (o.endNs - o.startNs) / 1000000L).sum
    val fs = ops.flatMap(o => Option(t.fsByOp.get(o.id)))
    def sumJ(f: t.JobRec => Long) = jobs.map(f).sum.toDouble
    Seq(
      "catalyst.actions" -> (qs.size / n, "count"),
      "catalyst.analysis_ms" -> (qs.map(_.analysisMs).sum / n, "ms"),
      "catalyst.optimization_ms" -> (qs.map(_.optimizationMs).sum / n, "ms"),
      "catalyst.planning_ms" -> (qs.map(_.planningMs).sum / n, "ms"),
      "scheduler.jobs" -> (jobs.size / n, "count"),
      "scheduler.stages" -> (sumJ(_.stages) / n, "count"),
      "scheduler.tasks" -> (sumJ(_.tasks) / n, "count"),
      "scheduler.job_wall_s" -> (jobWallMs / 1000.0 / n, "s"),
      "executor.task_run_s" -> (sumJ(_.taskRunMs) / 1000.0 / n, "s"),
      "executor.task_gc_s" -> (sumJ(_.taskGcMs) / 1000.0 / n, "s"),
      "executor.shuffle_read_mb" -> (sumJ(_.shuffleRead) / Mb / n, "MiB"),
      "executor.shuffle_write_mb" -> (sumJ(_.shuffleWrite) / Mb / n, "MiB"),
      "executor.output_rows" -> (sumJ(_.outRows) / n, "count"),
      "executor.output_mb" -> (sumJ(_.outBytes) / Mb / n, "MiB"),
      "executor.peak_exec_mem_mb" -> (jobs.map(_.peakMem).maxOption.getOrElse(0L) / Mb, "MiB"),
      "driver.self_s" -> ((spanMs - jobWallMs) / 1000.0 / n, "s"),
      "driver.fs_read_ops" -> (fs.map(_.reads).sum / n, "count"),
      "driver.fs_write_ops" -> (fs.map(_.writes).sum / n, "count"))
  }

  /** Wall time the jobs' intervals cover together. */
  private def unionMs(js: Seq[t.JobRec]): Long =
    js.map(j => (j.startMs, j.endMs)).sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((acc, end), (s, e)) =>
        if (s >= end) (acc + (e - s), e) else if (e > end) (acc + (e - end), e) else (acc, end)
    }._1
}

object Layers {
  private val Mb = 1048576.0

  /** The closed loop's op kinds; op-level metrics are named `<metric>.<kind>`. */
  val OpKinds: Seq[String] = Seq("tick", "query", "batch_query")

  /** DailyLoop step labels (metric name → JobLabel description). */
  val Steps: Seq[(String, String)] = Seq("cve_merge" -> "cve merge",
    "empty_delta_probe" -> "empty-delta probe", "dedup" -> "dedup",
    "ann_delta_probe" -> "ann delta probe", "ann" -> "ann", "pq_postings" -> "pq+postings",
    "compact" -> "compact", "pair_retention" -> "pair retention")

  /** The step a job description names: nested labels read
    * "tick N: ann > pq+postings > …"; unlabelled jobs are "other". */
  def stepOf(desc: String): String = {
    val segs = desc.replaceFirst("^tick \\d+: ", "").split(" > ").toSeq
    if (segs.contains("pq+postings")) "pq_postings"
    else Steps.find(_._2 == segs.head).map(_._1).getOrElse("other")
  }

  final case class SourceStats(parseS: Double, rowsIn: Long, deltaIds: Long, touchedBuckets: Long)

  /** A CVE landing's source parse — `CvePipeline.deltas` materialized
    * through the noop sink — with its row count, the merged delta's ids
    * and the snapshot buckets they hash into. */
  def sourceStats(spark: SparkSession, dir: Path): SourceStats = {
    val land = Main.landingFrom(dir.toString)
    val ds = CvePipeline.deltas(spark, land)
    val t0 = System.nanoTime()
    ds.foreach(_.write.format("noop").mode("overwrite").save())
    val parseS = (System.nanoTime() - t0) / 1e9
    val delta = CvePipeline.combinedDelta(spark, land)
    SourceStats(parseS, ds.map(_.count()).sum, delta.count(),
      delta.select(PartitionedSnapshot.bucketOf(col("id"), graft.CveJob.SnapshotBuckets))
        .distinct().count())
  }

  /** Share of the exact cosine top-k (`Similarity.bruteForceTopK` over
    * the live vectors) that pqTopK returns, over the given queries. */
  def recallAtK(spark: SparkSession, p: DailyLoop.Paths, live: DataFrame, queries: DataFrame,
                k: Int): Double = {
    val exact = Similarity.bruteForceTopK(live, queries, k)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the PQ probe may rank the query itself, which exact top-k excludes
    val approx = AnnIndex.pqTopK(spark, p.ann, queries, k + 1)
      .filter(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id", "rank").collect()
      .groupBy(_.getLong(0)).values
      .flatMap(_.sortBy(_.getLong(2)).take(k).map(r => (r.getLong(0), r.getLong(1)))).toSet
    if (exact.isEmpty) 0.0 else (exact intersect approx).size.toDouble / exact.size
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / Mb

  /** Heap in use after full collections. A collection hands dropped RDDs,
    * broadcasts and shuffles to Spark's ContextCleaner, which frees their
    * blocks on its own thread afterwards, so collect a few times with a
    * pause for the cleaner and keep the lowest reading. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mb
  }.min

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
}
