package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Scale-adaptive parallelism floor for compute-heavy per-row pipelines
  * (guide §2: derive partitioning from the input, never a constant tuned
  * for local mode or the cluster).
  *
  * Why it exists: Spark fuses the map work that FOLLOWS a scan (tokenize
  * → shingle → 64 minhash updates; normalize → m×k dot products) into
  * the scan stage, and a parquet table with few row groups scans as that
  * few tasks — the sf0.1 fixtures are ONE row group each, so the most
  * expensive per-row stages in the engine were measured running on one
  * core of 32 (Profile --jobs: wall ≈ taskTime on the shingle stage).
  * The same shape hits any production table whose row-group count is
  * below the cluster's cores (a freshly compacted small dimension, a
  * single-file delta drop).
  *
  * The floor is the INPUT-DERIVED fix: repartition to
  * `defaultParallelism` only when the planned scan would carry fewer
  * partitions — at real scale inputs carry ≥ cores splits and this is
  * the identity, so nothing is tuned to local[32]. Round-robin
  * repartition keeps retries deterministic (sortBeforeRepartition is on
  * by default, SPARK-23207), and every consumer behind these entry
  * points is an order-independent aggregate/join, so answers are
  * bit-identical — the shuffle moves the raw rows once, before the
  * expensive map stage instead of after it.
  *
  * HOW the count is derived (r22, replacing `df.rdd.getNumPartitions` —
  * which forced a throwaway physical planning + RDD conversion of the
  * input subtree per call site, ~15 of them, some inside per-tick
  * loops, and threw on streaming frames): the ANALYZED logical plan is
  * walked without planning anything. A narrow chain (project / filter /
  * generate / …) over file scans estimates its split count from the
  * scan's listed bytes with Spark's own `FilePartition.maxSplitBytes`
  * arithmetic; a checkpointed input (LogicalRDD) reports its real
  * partition count; anything that will plan its own exchange anyway
  * (join / aggregate / window / repartition / union-of-wide…) is left
  * untouched — post-shuffle relations already carry
  * `spark.sql.shuffle.partitions` splits, exactly the cases the old
  * probe also left alone. Streaming frames pass through unchanged
  * (ADVICE r21: the module contract says batch and streaming alike).
  */
object Spread {
  def ensureParallel(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (want <= 1 || df.isStreaming) df
    else plannedPartitions(df) match {
      case Some(n) if n < want => df.repartition(want)
      case _ => df
    }
  }

  /** Parallelism floor for the codes side of the ADC scorer
    * (`Similarity.adcTopK`, its one caller), a FAN-OUT consumer: the
    * join multiplies every code row by the query side's LUT rows.
    * Scan-shaped inputs floor exactly like [[ensureParallel]];
    * post-shuffle inputs (aggregate / window / sort / distinct /
    * repartition outputs, where ensureParallel is deliberately the
    * identity) are walked THROUGH to the scans below them, and the frame
    * is repartitioned to `defaultParallelism` when that scan-split
    * estimate is below it. The scan's split count is the smallness
    * proxy: AQE coalesces a shuffle by its output BYTES and is blind to
    * the fan-out above it, so a few hundred KB of PQ codes (m small ints
    * per vector) collapsed to ONE partition and the whole probe ran on
    * one core (q139: 7.8 s of a 12.7 s query in a single task). No AQE
    * setting or size estimate is consulted; at scale the scans carry ≥
    * cores splits and this is the identity. */
  def ensureParallelForFanout(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (want <= 1 || df.isStreaming) df
    else plannedPartitions(df, seeThroughShuffles = true) match {
      case Some(n) if n < want => df.repartition(want)
      case _ => df
    }
  }

  /** Estimated partition count of the frame's future scan stage — None
    * when the plan will introduce its own exchange (already spread) or
    * carries a leaf this walk doesn't know (stay conservative: no
    * floor, the pre-r21 behavior). Driver-side plan inspection only;
    * no job, no physical planning. */
  private def plannedPartitions(df: DataFrame,
                                seeThroughShuffles: Boolean = false): Option[Int] = {
    val conf = df.sparkSession.sessionState.conf
    val want = df.sparkSession.sparkContext.defaultParallelism
    val leaf = conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM).getOrElse(want)

    def scanSplits(rel: HadoopFsRelation): Int = {
      // Spark's FilePartition.maxSplitBytes arithmetic: files pack into
      // splits of min(maxPartitionBytes, max(openCost, total/cores))
      val open = conf.filesOpenCostInBytes
      val files = rel.location.sizeInBytes // listed bytes (cached listing)
      val nFiles = math.max(rel.location.inputFiles.length.toLong, 1L)
      val total = files + nFiles * open
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(open, total / math.max(want.toLong, 1L)))
      math.min(((total + maxSplit - 1) / maxSplit).max(1L), Int.MaxValue.toLong).toInt
    }

    def walk(p: LogicalPlan): Option[Long] = p match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(scanSplits(fs).toLong)
        case _ => None
      }
      case r: LogicalRDD => Some(r.rdd.getNumPartitions.toLong)
      // what LocalTableScanExec parallelizes its rows into: one slice
      // per row up to the leaf-node parallelism
      case l: LocalRelation => Some(math.min(l.data.length, leaf).toLong)
      // the node's own slice count, else what RangeExec falls back to
      case r: Range => Some(r.numSlices.getOrElse(leaf).toLong)
      case u: Union =>
        val parts = u.children.map(walk)
        if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
      // narrow, exchange-free wrappers: the scan's split count survives
      case n @ (_: Project | _: Filter | _: Generate | _: SubqueryAlias |
                _: Expand | _: GlobalLimit | _: LocalLimit | _: Sample) =>
        walk(n.children.head)
      // a left-ish join BROADCASTING its right side preserves the left
      // side's partitioning — the tick paths' `delta ANTI JOIN removals`
      // shape, whose heavy map stage r21's physical probe missed (the
      // planner says SMJ at plan time, AQE broadcasts at run time, and
      // the fused shingle/encode work lands on the scan's one split).
      // Walking the left side floors that case; if the join does shuffle
      // after all, the floor is a redundant exchange of a delta-sized
      // relation — cheap, and only on paths that were already shuffling.
      case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.Inner ||
                      j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti ||
                      j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi ||
                      j.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter =>
        walk(j.left)
      // fan-out mode only: see THROUGH shuffle-introducing nodes down to
      // the scans. At plan time these carry shuffle.partitions splits,
      // but AQE re-coalesces them by output BYTES at run time — and an
      // aggregate/window/sort/distinct over a small scan is itself small,
      // so the underlying scan's split count is the right smallness
      // proxy for "will AQE fold this to fewer partitions than cores".
      case a: Aggregate if seeThroughShuffles => walk(a.child)
      case w: Window if seeThroughShuffles => walk(w.child)
      case s: Sort if seeThroughShuffles => walk(s.child)
      case d: Deduplicate if seeThroughShuffles => walk(d.child)
      case r: RepartitionOperation if seeThroughShuffles => walk(r.child)
      case _ => None // will plan its own exchange (or unknown): leave alone
    }
    walk(df.queryExecution.analyzed).map(n =>
      math.min(n, Int.MaxValue.toLong).toInt)
  }
}
