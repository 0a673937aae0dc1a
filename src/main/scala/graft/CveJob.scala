package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The CVE side of a tick (main.py:64-98): the K1 merge of the landed
  * sources into the bucketed snapshot. Scheduling, the job watermark
  * stamp and the commit belong to [[DailyLoop]], the one scheduler
  * (main.py:123-147 — its marker clock replaces the reference's
  * scheduler thread).
  */
object CveJob {
  val JobSource = "cvemate" // main.py:62, 98

  /** Hash-bucket count of the CVE snapshot layout (PartitionedSnapshot).
    * Sized like the pair snapshot's: each bucket stays a rewrite-cheap
    * few GB at the target corpus while a daily delta touches few of
    * them. Layout state is recorded in the snapshot's own sidecar, so
    * this constant only governs NEW snapshots. */
  val SnapshotBuckets = 64

  /** The K1 merge of a tick's landed sources into the BUCKETED snapshot
    * — the bounded-MERGE path (PartitionedSnapshot): day zero writes the
    * full build once; every later tick collapses the landed sources to
    * one delta frame and rewrites ONLY the id-hash buckets that delta
    * touches, recomputing the priority projection bucket-locally
    * (priority is row-local, so untouched buckets stay correct AND
    * byte-identical). This is what the reference's per-batch upserts do
    * (handlers/mongodb_handler.py:141-177 — it never rewrites the
    * collection); the old rewrite+swap path cost O(snapshot) per tick,
    * a scale-killer at 100 TB.
    *
    * Crash-safe without its own commit flag: a half-written day-zero
    * init has no sidecar and re-runs; a mid-merge crash leaves each
    * bucket fully-old or fully-new (per-bucket backup-then-rename
    * swaps), healed on the next read, and the keyed upsert is
    * idempotent — so DailyLoop's one-marker tick can re-run the whole
    * step under the same batch. Day zero is inferred from the missing
    * sidecar (quirk #1, SURVEY §2.11: the reference documents --init /
    * --update flags it does not have and infers the mode from a missing
    * job watermark, main.py:232-238). */
  def mergeLanded(spark: SparkSession, landing: CvePipeline.Landing,
                  snapshotPath: String, now: Timestamp): Unit = {
    import graft.operators.PartitionedSnapshot
    val nowCol = lit(now.toString).cast("timestamp")
    if (!PartitionedSnapshot.isInitialized(spark, snapshotPath)) {
      PartitionedSnapshot.init(
        CvePipeline.buildSnapshot(spark, landing, now = nowCol),
        snapshotPath, "id", SnapshotBuckets)
    } else {
      // ALL landed sources refresh on every tick, exactly as in the init
      // build (the reference's update job re-runs every enabled handler;
      // main.py:64-98) — collapsed to one keyed delta so the bounded
      // merge sees exactly the touched ids.
      PartitionedSnapshot.mergeDelta(spark, snapshotPath,
        CvePipeline.combinedDelta(spark, landing), "id", nowCol,
        postMerge = CvePipeline.prioritize)
    }
    ()
  }
}
