package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{TextAnalysis => TA}

/** Streaming curation: the q54–q67 batch curation stages re-expressed as a
  * continuously-running ingest pipeline. Every transform here is a narrow
  * map or a watermark-bounded stateful op, so the same code runs in batch
  * (backfills, tests) and as a readStream → writeStream job — the
  * unified-API property the batch catalog relies on.
  *
  * Shape at 100 TB/day: curation is map-only (scales with input
  * partitions, no shuffle); the only state is the within-horizon dedup,
  * bounded by the watermark (one digest per distinct doc inside the
  * horizon — see [[EventsStream.dedupWithinHorizon]]).
  */
object DocsStream {

  /** Curation gates (tuned for the synthetic corpus; at scale these come
    * from config). */
  val MinTokens = 5L
  val MaxTokens = 100000L
  val MaxRepRatio = 0.95
  val KeepLangs = Seq("en", "es", "de", "fr")

  /** Quality + policy curation over documents-shaped rows (doc_id, text,
    * lang, source[, ts]): content digest, token accounting, 3-gram
    * repetition ratio, language/length/repetition gates, PII scrub.
    * Stateless and narrow — usable under any output mode. */
  def curate(docs: DataFrame): DataFrame = {
    val toked = docs
      // digest BEFORE scrubbing: identity is the raw content; reuse an
      // existing digest column (pipeline() already computed it for the
      // dedup) rather than hashing every surviving row a second time
      .withColumn("digest",
        if (docs.columns.contains("digest")) col("digest")
        else md5(col("text")))
      // tokens materialize once in their own projection (HOF re-eval
      // pitfall: lambda consumers re-evaluate inline array exprs)
      .withColumn("toks", TA.wsTokens(lower(col("text"))))
      .withColumn("n_toks", size(col("toks")).cast("long"))
    val grams = toked.withColumn("grams",
      when(size(col("toks")) >= 3,
        transform(sequence(lit(1), size(col("toks")) - 2),
          i => concat_ws(" ", slice(col("toks"), i, lit(3)))))
        .otherwise(array().cast("array<string>")))
    grams
      .withColumn("rep_ratio",
        when(size(col("grams")) > 0,
          lit(1.0) - size(array_distinct(col("grams"))).cast("double") /
            size(col("grams")).cast("double"))
          .otherwise(lit(0.0)))
      .filter(col("n_toks").between(MinTokens, MaxTokens))
      .filter(col("lang").isin(KeepLangs: _*))
      .filter(col("rep_ratio") <= MaxRepRatio)
      .withColumn("text", TA.scrubPii(col("text")))
      .drop("toks", "grams")
  }

  /** Full streaming pipeline: within-horizon exact dedup on the content
    * digest, then the curation gates. `docs` must carry an event-time
    * `ts` column. Dedup runs FIRST so duplicate payloads don't pay the
    * curation cost. */
  def pipeline(docs: DataFrame, horizon: String = "2 hours"): DataFrame =
    // digest is kept through the dedup so curate() reuses it instead of
    // re-hashing every surviving row
    curate(
      EventsStream.dedupWithinHorizon(
        docs.withColumn("digest", md5(col("text"))), Seq("digest"),
        tsCol = "ts", horizon = horizon))

  /** Sink side of the streaming pipeline: upsert each curated micro-batch
    * into a parquet snapshot keyed on the content digest. The watermark
    * dedup bounds state WITHIN the horizon; the keyed sink makes
    * re-observations BEYOND it (and re-delivered batches after a crash)
    * idempotent — together: exactly-once curated output from at-least-
    * once input. Same bounded bucket merge as the CVE snapshot. */
  def curatedSink(curated: org.apache.spark.sql.DataFrame, snapshotPath: String,
                  checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    EventsStream.mergeSink(curated, snapshotPath, "digest", checkpoint)

  /** Batch-replay harness: drive the FULL streaming path (file source →
    * watermark dedup → curation → keyed snapshot sink) over a bounded
    * documents table with an AvailableNow trigger, then return the
    * resulting snapshot as a batch DataFrame. Event time is synthesized
    * deterministically from doc_id (1 s apart). This is what turns the
    * streaming pipeline into an oracle-checkable catalog entry (q85):
    * the snapshot's deterministic columns must equal the batch curation
    * of the same input. Work dirs live under a fresh
    * [[graft.Scratch.fresh]] directory. */
  def replayDocuments(spark: org.apache.spark.sql.SparkSession,
                      dir: String, horizon: String = "2 hours"): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val work = graft.Scratch.fresh("docs_replay_")
    val snap = s"$work/snapshot"
    val ckpt = s"$work/ckpt"
    // the file stream source requires a DIRECTORY; link (or copy) the
    // table — single file or part-file directory — into a fresh input
    // dir instead of mutating the fixture
    val in = java.nio.file.Files.createDirectory(work.resolve("in"))
    EventsStream.linkTable(in, path)
    val stream = spark.readStream.schema(schema).parquet(in.toString)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    val q = EventsStream.runAvailableNow(
      curatedSink(pipeline(stream, horizon), snap, ckpt))
    q.awaitTermination()
    graft.operators.PartitionedSnapshot.read(spark, snap)
      .drop(graft.operators.PartitionedSnapshot.BucketCol)
  }

  /** doc_id hash buckets of the shingle store ([[shingleStore]]). */
  val StoreBuckets = 32

  /** Hash buckets of the verified-pair snapshot (the K1 bounded-MERGE
    * sink): sized so a tick's pair keys touch few directories while each
    * stays rewrite-cheap. */
  val PairBuckets = 32

  /** Read the verified-pair snapshot (heals a whole-dir swap a crashed
    * compaction rebuild left behind, then any bucket a crashed merge
    * left mid-swap, then drops the layout/bookkeeping columns). */
  def readPairs(spark: org.apache.spark.sql.SparkSession, snap: String): DataFrame = {
    graft.SnapshotIO.recover(spark.sparkContext.hadoopConfiguration, snap)
    graft.operators.PartitionedSnapshot.read(spark, snap)
      .select("a_id", "b_id", "jaccard")
  }

  /** Compaction-time pair RETENTION: recompute the verified-pair set
    * from the compacted corpus (latest version of every doc) and
    * atomically replace the pair snapshot — this is where pairs whose
    * docs drifted apart on update EXPIRE, closing the per-tick sink's
    * documented monotonicity (see [[indexedDedupTick]]). O(corpus) by
    * design, riding the same cadence (and the same persisted
    * corpus-shingle frame) as the index rebuild it accompanies.
    * Crash-safe: the replacement layout (sidecar, buckets) is
    * staged COMPLETELY beside the live snapshot, then moved in by
    * `SnapshotIO.replace`; [[readPairs]] and the daily tick heal a
    * mid-swap crash, and a re-run recomputes from the unchanged store. */
  def rebuildPairs(corpusSh: DataFrame, snap: String, threshold: Double,
                   numHashes: Int, bands: Int,
                   now: org.apache.spark.sql.Column): Unit = {
    val spark = corpusSh.sparkSession
    val pairs = graft.operators.Dedup.minhashPairsFrom(corpusSh, threshold, numHashes, bands)
      .withColumn("pk", concat_ws(":", col("a_id"), col("b_id")))
    graft.SnapshotIO.replace(spark.sparkContext.hadoopConfiguration, snap) { tmp =>
      // sidecar-first staging: a zero-pair corpus still publishes a
      // readable snapshot (the sidecar carries the schema)
      graft.operators.PartitionedSnapshot.upsert(pairs, tmp, "pk", PairBuckets, now)
    }
  }

  /** The persisted shingle store: exploded (doc_id, shingle) rows, the
    * shingle the tombstone column, bucketed on doc_id so the verify read
    * prunes FILES down to candidate docs' buckets. Format, LWW, delete,
    * sweep and consolidation rules: [[graft.operators.BatchStore]]. */
  def shingleStore(path: String): graft.operators.BatchStore =
    graft.operators.BatchStore(path, "doc_id",
      Seq(org.apache.spark.sql.types.StructField("shingle",
        org.apache.spark.sql.types.LongType)),
      Some(("doc_bucket", StoreBuckets)))

  /** The LIVE pair view: verified pairs both of whose endpoints are
    * live (un-tombstoned) docs. This is what makes a delete VISIBLE the
    * tick it lands — the snapshot's own upsert sink has no delete path
    * by design (K1 semantics); the anti-join hides dead pairs until the
    * compaction rebuild drops them physically. */
  def livePairs(spark: org.apache.spark.sql.SparkSession, snap: String,
                store: String, upToBatch: Long): DataFrame = {
    val dels = shingleStore(store).deleted(spark, upToBatch)
    readPairs(spark, snap)
      .join(dels.select(col("doc_id").as("a_id")), Seq("a_id"), "left_anti")
      .join(dels.select(col("doc_id").as("b_id")), Seq("b_id"), "left_anti")
      .select("a_id", "b_id", "jaccard") // joins moved their keys first
  }

  /** ONE probe→verify→upsert→append tick of the indexed streaming dedup
    * — the foreachBatch body of [[replayIndexedDedup]], factored out so
    * the idempotence spec can re-deliver a committed batch directly.
    *
    * Exactly-once under re-delivery, with NO crash point that corrupts
    * state: the pair snapshot is a keyed upsert (absorbs re-probed
    * pairs); the index layer append only duplicates postings (the
    * candidate distinct() ignores them); and the shingle store append is
    * the [[graft.operators.BatchStore]] partition overwrite, so a
    * re-delivered batch replaces its earlier (possibly partial) append
    * instead of doubling it, and the verify read excludes the in-flight
    * partition by filter rather than by anti-join. Verify counts raw rows
    * per doc, so doubled store rows would corrupt jaccard.
    *
    * Re-ARRIVING docs (updates) follow the store's LWW supersede rule on
    * both store reads. The pair snapshot itself is MONOTONE between compactions: a pair whose docs
    * drift apart on update keeps its last-verified row (re-verified
    * candidates are upserted with fresh values; pairs that fall below
    * threshold are simply not re-emitted). Stale pairs EXPIRE at the
    * compaction cadence — [[rebuildPairs]], wired into
    * DailyLoop.runTick's compaction step, replaces the snapshot from
    * the compacted corpus. */
  def indexedDedupTick(batch: DataFrame, batchId: Long, idx: String,
                       store: String, snap: String,
                       threshold: Double,
                       removals: Option[DataFrame] = None): Unit = {
    import graft.operators.{BandIndex, Dedup, PartitionedSnapshot}
    val s = batch.sparkSession
    val sh = shingleStore(store)
    // the tick's removal set (doc ids to delete): within the tick a
    // removal WINS over a same-id delta row; each lands as a store
    // tombstone. Multi-consumer and control-plane-small — pinned for
    // the tick.
    val rem = removals.map(_.select("doc_id").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val live = rem.map(r => batch.join(r, Seq("doc_id"), "left_anti"))
      .getOrElse(batch)
    // multi-consumer (probe join, self-join, touched collect, two
    // appends) — persisted for the tick, released before the next
    val bsh = Dedup.explodedShingles(Dedup.shingleSets(live))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one pinned tick: the batch is banded ONCE, serving both
      // the chain probe and the layer append below
      val tick = graft.JobLabel(s, "band delta") { new BandIndex.DeltaTick(idx, bsh) }
      // candidates referencing docs deleted in EARLIER ticks are dead
      // on arrival — their shingles are tombstoned, so verify would
      // drop them anyway — but left in they inflate the touched-bucket
      // collect and the pruned store read below. The deleted-ids read is
      // O(tombstoned buckets) between compactions and empty-from-
      // metadata after one, so this pre-prune is near-free. (The
      // CURRENT tick's removals are handled by the `rem` anti-joins —
      // their tombstones are not stored yet at probe time.)
      // A doc deleted earlier that RE-LANDS in this very batch is NOT
      // dead: its re-landing row supersedes the tombstone this tick, so
      // its candidate pairs must survive the prune — dropping them here
      // would leave the doc live in the store with its pairs silently
      // missing until the next full pair rebuild (which may never run).
      // Only docs deleted earlier AND absent from this batch are pruned.
      val delsOpt = sh.deletedOpt(s, batchId)
        .map(_.join(bsh.select("doc_id").distinct(), Seq("doc_id"), "left_anti"))
      val cand0 = graft.JobLabel(s, "probe candidates") { tick.candidates }
      // When earlier tombstones EXIST, the pruned candidate set is
      // checkpointed here (r21): it feeds the touched-bucket collect
      // below AND the verify join — without the pin the dels anti-join
      // subtree (including the deleted-ids store aggregate) executed once
      // per consumer (no subplan CSE). With NO tombstones (the common
      // clean-stream tick) the anti-joins are the identity, so cand0 —
      // already checkpointed by DeltaTick — serves directly (r22: the
      // unconditional re-checkpoint was a pure block-copy job per tick,
      // one of the q119-pin suspects).
      val cand = delsOpt match {
        case None => cand0
        case Some(dels) => graft.JobLabel(s, "probe candidates") {
          cand0
            .join(dels.select(col("doc_id").as("a_id")), Seq("a_id"), "left_anti")
            .join(dels.select(col("doc_id").as("b_id")), Seq("b_id"), "left_anti")
            .select(cand0.columns.map(col).toSeq: _*)
            .localCheckpoint()
        }
      }
      // control-plane: which store buckets hold candidate docs
      // (≤ StoreBuckets values)
      val touched = graft.JobLabel(s, "touched buckets") {
        cand.select(col("a_id").as("doc_id"))
          .union(cand.select(col("b_id").as("doc_id")))
          .select(PartitionedSnapshot.bucketOf(col("doc_id"), StoreBuckets).as("b"))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted
      }
      // a doc in the CURRENT batch supersedes any stored copy of itself
      // (the store read already keeps only the latest STORED batch per
      // doc; this anti-join applies the same LWW rule to the in-flight
      // version) — without it a re-arriving doc counts double in verify.
      // Docs REMOVED this tick are excluded the same way: their
      // tombstone is not stored yet at verify time, and a dead doc must
      // not seed new pairs in the very tick that deletes it.
      val earlier0 = sh.liveBefore(s, batchId, touched)
        .join(bsh.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      val earlier = rem.map(r => earlier0.join(r, Seq("doc_id"), "left_anti"))
        .getOrElse(earlier0)
      // the verify plan is the tick's expensive stage and the bounded
      // merge consumes it twice (touched-bucket collect + merge write) —
      // persist for the sink's lifetime (the no-subplan-CSE pitfall)
      val pairs = Dedup.verifyPairs(cand, earlier.union(bsh), threshold)
        .withColumn("pk", concat_ws(":", col("a_id"), col("b_id")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // materialize pairs into the keyed snapshot BEFORE the two
        // appends so a re-delivered batch recomputes from the same
        // pre-append state it first saw. The sink is the K1 bounded
        // MERGE (PartitionedSnapshot): only the buckets holding this
        // tick's pair keys are rewritten — O(|new pairs| + touched
        // buckets) per tick, not O(|all pairs ever|); per-bucket
        // crash-safe swaps + the idempotent keyed upsert make a
        // re-delivered batch converge on any mid-merge crash state.
        graft.JobLabel(s, "pair merge") {
          PartitionedSnapshot.upsert(pairs, snap, "pk", PairBuckets)
        }
      } finally pairs.unpersist()
      // The two O(batch) appends touch DISJOINT stores (the band index's
      // fresh v-dir vs the shingle store's own batch partition) and both
      // consume the already-pinned band/shingle frames, so they run
      // CONCURRENTLY (guide §2.6): each is idempotent under the tick's
      // crash model on its own (a doubled layer is distinct()ed away, a
      // re-run store append overwrites its own partition), so overlap
      // changes wall-clock only, never an answer or convergence.
      graft.Par(
        // the O(batch) daily layer, same band rows
        () => graft.JobLabel(s, "layer append") { tick.append() },
        // idempotent O(batch) store append: the live shingles PLUS one
        // tombstone row per removed doc
        () => graft.JobLabel(s, "store append") { sh.write(batchId, bsh, rem) })
    } finally { bsh.unpersist(); rem.foreach(_.unpersist()); () }
    ()
  }

  /** Streaming incremental near-dup detection against the PERSISTED
    * layered band index — the q106/q117 daily loop run as a continuous
    * pipeline. Every micro-batch: (1) shingles its docs, (2) probes the
    * index CHAIN for candidates against all earlier docs plus itself and
    * exact-verifies them, (3) upserts the verified pairs into a keyed
    * snapshot, (4) appends its own band rows as an O(batch) index layer
    * and its shingles to the bucketed verification store. A pair is
    * discovered exactly when its LATER member arrives, so the final
    * snapshot equals the FULL-CORPUS pair set no matter how the engine
    * batches the input — the batching-invariance that makes a streaming
    * pipeline oracle-checkable (q118 gates it against the same DuckDB
    * truth as batch q32; StreamingSpec pins 1-batch == N-batch).
    * Per-tick semantics and the exactly-once argument live on
    * [[indexedDedupTick]].
    *
    * 100 TB/day shape: per tick the corpus-sized relations are touched
    * only via the partition-pruned chain probe and the store read pruned
    * to earlier batches × candidate-doc buckets (file-level, then the
    * verify semi-join row-level); signatures/banding/append are
    * O(batch). The pair snapshot IS the K1 bucketed partition-overwrite
    * merge (PartitionedSnapshot): per tick only the pk-buckets holding
    * new pairs are rewritten — O(new pairs + touched buckets), never
    * O(all pairs ever). */
  def replayIndexedDedup(spark: org.apache.spark.sql.SparkSession,
                         dir: String, threshold: Double,
                         inputSplits: Int = 4): DataFrame = {
    import graft.operators.{BandIndex, Dedup}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val work = graft.Scratch.fresh("docs_incdedup_")
    // deterministic multi-file input so AvailableNow + maxFilesPerTrigger
    // genuinely exercises the incremental path (a single-file table would
    // collapse into one all-delta batch)
    val in = work.resolve("in").toString
    docs.repartitionByRange(inputSplits, col("doc_id")).write.parquet(in)
    val idx = "file:" + work.resolve("idx")
    val store = java.nio.file.Files.createDirectory(work.resolve("shingles"))
      .toString // empty dir: day-zero store (schema is fixed, not inferred)
    val snap = work.resolve("pairs").toString
    // day zero: an EMPTY committed base version, so the first batch
    // probes legally and yields its delta-internal pairs
    BandIndex.write(Dedup.explodedShingles(Dedup.shingleSets(docs.limit(0))), idx)
    val q = EventsStream.runAvailableNow(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          indexedDedupTick(batch, batchId, idx, store, snap, threshold)
        })
    q.awaitTermination()
    readPairs(spark, snap)
  }
}
