package graft

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.BandIndex
import graft.streaming.DocsStream

/** The reference's full operational loop (main.py:123-147) wired
  * end-to-end against the PERSISTED dedup index: every daily tick lands
  * the CVE deltas through the K1 merge, runs the document delta through
  * the probe→verify→upsert→append dedup tick (the q118 machinery), and
  * compacts the index chain when it exceeds the cadence threshold — then
  * commits the tick atomically.
  *
  * Crash model — ONE commit point per tick. A tick touches the eight
  * stores of [[Paths]]: the CVE snapshot, the watermark record, the pair
  * snapshot, the shingle store, the band index, the PQ and IVF-posting
  * ANN chains and the raw-vector store. Two store protocols carry most
  * of that state: [[operators.BatchStore]] (the shingle and raw-vector
  * stores: batch partitions, LWW tombstones, sweep, consolidation) and
  * [[operators.VersionedChain]] (the band index and both ANN chains:
  * claimed versions, sidecar commit, prune). Giving each store its own
  * "done" flag would create crash windows where half a tick is visible
  * and the other half re-runs under a new batch id (doubling shingle
  * rows). Instead a tick COMMITS by atomically creating one marker file
  * (`tick-<seq>-<millis>` under `ticks/`, the VersionedChain claim-file
  * pattern); every step before that is idempotent under a full re-run
  * with the SAME batch id (= committed seq + 1): the K1 merge is a keyed
  * upsert, the pair snapshot a keyed upsert, a batch store write a
  * wholesale overwrite of the tick's own partition (partials from a
  * crashed attempt are swept at tick start), and a double layer append
  * only duplicates postings, which probes distinct() away and the next
  * compaction collapses.
  * So: crash anywhere before the marker → the whole tick re-runs and
  * converges to the state a crash-free run would have produced
  * (DailyLoopSpec injects a crash after every step and asserts exactly
  * that); crash after the marker → the tick is complete.
  *
  * The model's one input contract: a tick's DELTA IS A FUNCTION OF ITS
  * SEQ — a re-run must consume the same landed files the crashed
  * attempt saw (idempotence is only meaningful against a fixed input).
  * `--fetch` enforces this itself with the landing dir's completion
  * marker (Main.LandedMarker: fetch once per seq, re-runs reuse);
  * fetchless deployments own it by not swapping a seq's landed files
  * between attempts.
  *
  * 100 TB shape: per tick the corpus-sized relations are touched only
  * through the partition-pruned index probe and the bucket-pruned store
  * read (see [[DocsStream.indexedDedupTick]]); the compaction rebuild
  * (index AND pair-snapshot retention, [[DocsStream.rebuildPairs]]) is
  * the only O(corpus) stage and runs once per `maxChain` ticks — the
  * knob that trades nightly rebuild cost against probe chain length.
  */
object DailyLoop {

  /** Fail-point injection for the crash spec: throw AFTER the named
    * step, before the tick commits. */
  sealed trait FailPoint
  case object AfterMerge extends FailPoint
  case object AfterDedup extends FailPoint
  case object AfterAnn extends FailPoint
  case object AfterCompact extends FailPoint
  final class InjectedCrash(at: FailPoint)
    extends RuntimeException(s"injected crash $at")

  /** Everything a tick persists, rooted under one directory. */
  final case class Paths(root: String) {
    val snapshot = s"$root/snapshot"   // CVE K1 merge target
    val status   = s"$root/status"     // per-source watermark record (a text file)
    val index    = s"$root/idx"        // layered band index
    val store    = s"$root/shingles"   // bucketed shingle store
    val pairs    = s"$root/pairs"      // verified near-dup pairs
    val ann      = s"$root/ann"        // versioned PQ index (AnnIndex)
    val annPost  = s"$root/annpost"    // IVF posting store (AnnIndex)
    val vecs     = s"$root/vecs"       // batch-partitioned raw-vector store
    val ticks    = s"$root/ticks"      // tick marker files (commit points)
  }

  /** The raw-vector store: the landed embedding deltas (`label` is
    * nullable — a label-less delta stores null), the embedding the
    * tombstone column, no buckets. It is the ANN artifacts' REBUILD
    * SOURCE: PQ codes are lossy and postings pin their quantizer, so
    * posting-store seeding (which must cover vectors from label-less
    * EARLIER ticks) and any retraining refresh read raw vectors from
    * here. Format and rules: [[operators.BatchStore]]. */
  def vecStore(path: String): operators.BatchStore = {
    import org.apache.spark.sql.types._
    operators.BatchStore(path, "vec_id", Seq(
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
  }

  private val Marker = """tick-(\d+)-(\d+)""".r

  /** Committed tick count and the last committed tick's stamp — read
    * from the marker files, the loop's ONLY source of tick-completion
    * truth (the watermark record is freshness metadata for P11 consumers,
    * not a commit flag). */
  def committedTick(spark: SparkSession, p: Paths): (Long, Option[Timestamp]) = {
    val f = SnapshotIO.fs(spark.sparkContext.hadoopConfiguration, p.ticks)
    val dir = new Path(p.ticks)
    if (!f.exists(dir)) (0L, None)
    else {
      val ms = f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
        case Marker(n, t) => (n.toLong, t.toLong)
      }
      if (ms.isEmpty) (0L, None)
      else {
        val (n, t) = ms.maxBy(_._1)
        (n, Some(new Timestamp(t)))
      }
    }
  }

  /** T3 catch-up semantics on the marker clock: due when no tick has
    * ever committed or elapsed ≥ interval. FLOAT hours (the reference's
    * `float(...)` scheduler semantics, main.py:210) — sub-hour intervals
    * are representable; millis conversion happens once, here. */
  def isTickDue(spark: SparkSession, p: Paths, now: Timestamp,
                intervalHours: Double = 24): Boolean =
    committedTick(spark, p)._2 match {
      case None => true
      case Some(last) =>
        now.getTime - last.getTime >= (intervalHours * 3600 * 1000).toLong
    }

  /** One daily tick. Steps, in order: (1) K1 merge of the landed CVE
    * sources into the snapshot + prioritize (CveJob.mergeLanded), (2)
    * the indexed dedup tick over the landed document delta, (2b) the
    * ANN ingest of the landed embedding delta (batch-stamped
    * build/append + answer-invariant compaction, see below), (3)
    * compaction when the layer chain exceeds `maxChain` (full rebuild
    * from the store under the index's OWN layout — a compaction must
    * never change the hash family), (4) freshness stamp, (5) the marker
    * commit. */
  def runTick(spark: SparkSession, landing: CvePipeline.Landing,
              docsDelta: DataFrame, p: Paths, now: Timestamp,
              threshold: Double = 0.8, maxChain: Int = Int.MaxValue,
              failAt: Option[FailPoint] = None,
              keepMarkers: Int = KeepMarkers,
              embDelta: Option[DataFrame] = None,
              annMaxChain: Int = Int.MaxValue,
              docRemovals: Option[DataFrame] = None,
              vecRemovals: Option[DataFrame] = None,
              pairRebuildEvery: Int = 0,
              annRefreshEvery: Int = 0,
              trainSampleMax: Long = 0L,
              leaseCheck: () => Unit = () => ()): Unit = {
    // `leaseCheck` (typically LeaseHeartbeat.check) runs at every step
    // boundary — in particular right before the whole-dir consolidation
    // swaps and before the commit marker — so a lease loss the
    // background heartbeat observed aborts the tick within ONE step
    // instead of letting it keep writing concurrently with a usurper
    // until tick end (round-13 advice)
    leaseCheck()
    val (committed, _) = committedTick(spark, p)
    val batchId = committed + 1
    val shingles = DocsStream.shingleStore(p.store)
    val vecs = vecStore(p.vecs)
    // heal both batch stores (a consolidation left mid-swap, a crashed
    // attempt's partitions) BEFORE any step reads them
    shingles.heal(spark, committed)
    vecs.heal(spark, committed)
    // heal a pair snapshot a crashed compaction rebuild left mid-swap —
    // BEFORE any layout probe (a missing dir would read as day zero)
    SnapshotIO.recover(spark.sparkContext.hadoopConfiguration, p.pairs)

    // (1) the CVE enrichment merge — CveJob.mergeLanded, the BOUNDED
    // K1 path: only the id-hash buckets the tick's delta touches are
    // rewritten (PartitionedSnapshot.mergeDelta), never the whole
    // snapshot. Idempotent under the one-marker re-run: the keyed upsert
    // absorbs a re-landed delta, per-bucket swaps heal on read. A tick
    // with NO landed sources (doc-only deployments, or a day every
    // upstream was fresh per P11) skips it.
    if (!landing.isEmpty)
      JobLabel(spark, s"tick $batchId: cve merge") {
        CveJob.mergeLanded(spark, landing, p.snapshot, now)
      }
    if (failAt.contains(AfterMerge)) throw new InjectedCrash(AfterMerge)
    leaseCheck()

    // (2) probe → verify → pair upsert → layer + store append.
    // Day zero: commit an EMPTY base version so the first delta probes
    // legally and yields its delta-internal pairs (guarded — a crash
    // re-run must not stack a second base).
    //
    // EMPTY-DELTA SKIP (r21, guide §1.2 "don't compute things you throw
    // away"): a tick whose doc delta is empty and that removes nothing
    // contributes NOTHING to any dedup store — its layer and store
    // partition would hold zero rows and its probe/verify/merge would
    // all be empty — yet the full machinery costs ~20 control-plane
    // jobs (the vector-only q125/q127 families pay it 3× per query; a
    // doc-less deployment day pays it nightly). Skip it once day-zero
    // state exists; the FIRST tick still runs in full, so layout
    // creation (empty base version, pair-snapshot sidecar) is
    // byte-identical to before. Deterministic in the tick's input, so
    // the crash model's delta-as-function-of-seq contract is untouched;
    // the compaction cadence now counts only layers that carry rows
    // (compaction itself is answer-invariant, so its timing is free to
    // improve).
    val dedupSkippable = docRemovals.isEmpty &&
      BandIndex.isBuilt(spark, p.index) &&
      operators.PartitionedSnapshot.isInitialized(spark, p.pairs) &&
      JobLabel(spark, s"tick $batchId: empty-delta probe") {
        docsDelta.limit(1).isEmpty
      }
    if (!dedupSkippable) {
      if (!BandIndex.isBuilt(spark, p.index))
        BandIndex.write(operators.Dedup.explodedShingles(
          operators.Dedup.shingleSets(docsDelta.limit(0))), p.index)
      JobLabel(spark, s"tick $batchId: dedup") {
        DocsStream.indexedDedupTick(docsDelta, batchId, p.index, p.store,
          p.pairs, threshold, removals = docRemovals)
      }
    }
    if (failAt.contains(AfterDedup)) throw new InjectedCrash(AfterDedup)
    leaseCheck()

    // (2b) the ANN ingest, when an embedding delta landed: day zero
    // TRAINS and publishes the base (the tick's delta is the training
    // set — the pinned codebook every later append encodes against);
    // after that each tick is an O(delta) pinned-codebook append, and
    // the chain compacts on its own cadence WITHOUT retraining
    // (AnnIndex.compactPq — answer-invariant, so compaction timing
    // never changes probe results; a retraining refresh is a
    // deliberate quality event outside the loop). Idempotence under
    // the one-marker crash model comes from the batch stamp: a re-run
    // whose batch already sits at the committed head skips the step —
    // duplicate PQ codes would DOUBLE ADC sums, so this skip is load-
    // bearing, not an optimization. The loop's delta contract (new
    // vec_ids only) is the stream's own invariant, and the append keeps
    // it SELF-ENFORCING at O(delta): it probes the delta against the
    // chain's per-layer id blooms (map-only) and pays the exact id scan
    // only on a hit, so a violation aborts the tick loudly instead of
    // silently doubling sums (AnnIndex.guardStats).
    // A zero-row delta or removal set skips the whole step (one limit-1
    // probe each): a day-zero build on it would train an EMPTY codebook
    // and poison every later append; an append of it would only grow
    // the chain.
    val (annDelta, annRem) = JobLabel(spark, s"tick $batchId: ann delta probe") {
      (embDelta.filter(!_.limit(1).isEmpty),
        vecRemovals.map(_.select("vec_id").distinct()).filter(!_.limit(1).isEmpty))
    }
    // the refresh cadence is an exact batch-key match retraining FROM
    // THE STORE — it must fire even on a tick that lands neither
    // vectors nor removals, or a vector-less day silently defers the
    // quality event a whole period (the store has a full corpus to
    // retrain on regardless of what today landed)
    val refreshDue = annRefreshEvery > 0 && batchId % annRefreshEvery == 0
    if (annDelta.nonEmpty || annRem.nonEmpty ||
        (refreshDue && operators.AnnIndex.isBuilt(spark, p.ann)))
      JobLabel(spark, s"tick $batchId: ann") {
      val emb = annDelta.getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(vecs.schema.take(2))))
      // a vec id both landed and removed this tick: the removal WINS
      // (the doc-side rule); replace-in-place is expressed as remove in
      // tick N, re-land in tick N+1
      val liveEmb = annRem
        .map(r => emb.join(r, Seq("vec_id"), "left_anti")).getOrElse(emb)
      // (2a') the raw-vector store FIRST: the live delta plus one
      // tombstone row per removed vec, so the ANN steps below — and any
      // later seed or retraining rebuild — read one consistent live
      // corpus that includes this tick. O(delta) per tick.
      vecs.write(batchId, liveEmb, annRem)
      // The PQ step (2b') and the posting-store step (2c) touch DISJOINT
      // artifact stores and only READ the shared vector store, so they
      // run CONCURRENTLY (guide §2.6; the indexedDedupTick append pair's
      // reasoning): each side is independently idempotent under the
      // one-marker crash model via its own batch stamp, so a crash with
      // one side committed and the other not re-runs exactly like the
      // sequential interleaving it replaced. The answer-invariant
      // COMPACTIONS (and the vector-store consolidation swap, which the
      // posting side's seed/refresh reads must not race) stay sequential
      // AFTER both.
      JobLabel(spark, "pq+postings") { Par(() => {
      // a REFRESH tick (batch-keyed cadence) is the deliberate quality
      // event compactPq's answer-invariance contrasts against: retrain
      // the quantizer on the LIVE corpus read back from the vector
      // store (the tick's delta is already in it; deletes are already
      // out of it) and publish a fresh root — the chain collapses and
      // rankings legitimately change. Idempotent under crash re-run via
      // the same batch stamp as the append it replaces.
      if (!operators.AnnIndex.isBuilt(spark, p.ann)) {
        // removals against an unbuilt index are vacuous; day zero only
        // TRAINS when the tick actually landed vectors
        if (!liveEmb.limit(1).isEmpty)
          operators.AnnIndex.buildPq(liveEmb, p.ann, batchId = Some(batchId))
      } else if (!operators.AnnIndex.headBatch(spark, p.ann).contains(batchId)) {
        // the refresh degrades to a plain append when the live store is
        // empty (everything deleted): training on zero rows would
        // publish a poison empty codebook — the day-zero guard's rule
        val refreshCorpusPq =
          if (refreshDue) Some(vecs.live(spark, batchId))
            .filter(!_.limit(1).isEmpty)
          else None
        refreshCorpusPq match {
          case Some(corpus) =>
            // retrain under the chain's COMMITTED geometry AND training
            // depth (sidecar, the compactPq rule) — an index built
            // outside the loop with custom (m, subLen, numCodes,
            // trainIters) must refresh to the same shape and quality,
            // not silently to the build defaults. trainSampleMax bounds
            // the retrain's Lloyd passes to a deterministic hash sample
            // (the encode still covers the whole live store) — the knob
            // that keeps the refresh cadence affordable once the store
            // outgrows what full-corpus training can absorb nightly
            val prm = operators.AnnIndex.pqParams(spark, p.ann)
            operators.AnnIndex.buildPq(corpus, p.ann, m = prm.m,
              subLen = prm.subLen, numCodes = prm.numCodes,
              trainIters = prm.trainIters, batchId = Some(batchId),
              trainSampleMax = trainSampleMax)
          case None =>
            // only append when the tick actually landed something — a
            // refresh-only tick whose store emptied out (the degrade
            // case) must not publish a pointless empty layer
            if (annDelta.nonEmpty || annRem.nonEmpty)
              operators.AnnIndex.appendPq(liveEmb, p.ann,
                batchId = Some(batchId), removals = annRem)
        }
      }
      }, () => {
      // (2c) the IVF posting store, same lifecycle. Only the day-zero
      // TRAIN needs seed-cell labels — a label-free pipeline keeps the
      // PQ index alone until a labeled delta arrives; that first seed
      // then trains centroids on the LABELED rows but builds postings
      // from the FULL vector store, so vectors landed over the earlier
      // label-less ticks are covered from day one (without this, the
      // store would serve incomplete candidates forever while pqTopK
      // served the whole corpus). Once LIVE, every delta appends
      // (assignment needs only the pinned centroids), so the store
      // never falls behind again. Batch-stamp idempotence and
      // answer-invariant compaction are identical to 2b (duplicate
      // postings would double candidates, the same corruption class as
      // duplicate codes).
      if (operators.AnnIndex.isBuilt(spark, p.annPost)) {
        if (!operators.AnnIndex.headBatch(spark, p.annPost).contains(batchId)) {
          // the refresh event retrains the posting store's quantizer
          // too, when the live store still has labeled seed rows
          val refreshCorpus =
            if (refreshDue) Some(vecs.live(spark, batchId))
            else None
          val labeled = refreshCorpus.map(_.filter(col("label").isNotNull))
          if (refreshCorpus.nonEmpty && !labeled.get.limit(1).isEmpty)
            operators.AnnIndex.buildIvfPostings(refreshCorpus.get, p.annPost,
              refineIters = operators.AnnIndex.ivfpRefineIters(spark, p.annPost),
              batchId = Some(batchId), trainOn = labeled)
          else if (annDelta.nonEmpty || annRem.nonEmpty)
            operators.AnnIndex.appendIvfPostings(liveEmb, p.annPost,
              batchId = Some(batchId), removals = annRem)
        }
      } else if (liveEmb.columns.contains("label") &&
                 !liveEmb.limit(1).isEmpty) {
        val corpus = vecs.live(spark, batchId)
        operators.AnnIndex.buildIvfPostings(corpus, p.annPost,
          batchId = Some(batchId),
          trainOn = Some(corpus.filter(col("label").isNotNull)))
      }
      }) }

      // compaction cadences, sequential AFTER both sides (the vector
      // store consolidation swaps the directory the posting seed and
      // refresh read — it must never race them)
      if (operators.AnnIndex.isBuilt(spark, p.ann) &&
          operators.AnnIndex.pqChain(spark, p.ann).length > annMaxChain) {
        operators.AnnIndex.compactPq(spark, p.ann)
        // the vector store consolidates on the same cadence
        vecs.consolidate(spark, committed, batchId)
      }
      if (operators.AnnIndex.isBuilt(spark, p.annPost) &&
          operators.AnnIndex.ivfpChain(spark, p.annPost).length > annMaxChain)
        operators.AnnIndex.compactIvfPostings(spark, p.annPost)
    }
    if (failAt.contains(AfterAnn)) throw new InjectedCrash(AfterAnn)
    // verify ownership right before the compaction whole-dir swaps —
    // the writes a usurper's concurrent swap could actually clobber
    leaseCheck()

    // (3) compaction cadence: collapse the chain once probes would walk
    // more than maxChain layers — the store holds the full committed
    // corpus (this tick's partition included), so the rebuild needs no
    // other input. By default the PAIR snapshot is rebuilt on the same
    // cadence (retention: drifted-apart pairs expire,
    // DocsStream.rebuildPairs) and FIRST — the chain stays > maxChain
    // until the index rebuild commits, so a crash anywhere inside this
    // step re-runs the whole compaction instead of leaving the pair
    // rebuild silently skipped. A positive `pairRebuildEvery` DECOUPLES
    // the two O(corpus) passes: compaction then skips the pair rebuild
    // and retention runs on its own batch-keyed cadence (step 3b) —
    // the knob that stops a frequent index compaction from paying the
    // pair-verification pass every time.
    if (BandIndex.chainLength(spark, p.index) > maxChain) JobLabel(spark, s"tick $batchId: compact") {
      val l = BandIndex.layout(spark, p.index)
      val corpusSh = shingles.live(spark, batchId)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (pairRebuildEvery <= 0)
          DocsStream.rebuildPairs(corpusSh, p.pairs, threshold,
            l.numHashes, l.bands, lit(now.toString).cast("timestamp"))
        // the index write stays after the pair rebuild so the chain
        // stays > maxChain until the whole compaction has committed
        BandIndex.write(corpusSh, p.index, l.numHashes, l.bands, l.buckets)
        // store consolidation LAST — after every consumer of the
        // pinned corpus frame: the swap DELETES the old batch=*
        // files, and a lost-executor recompute of corpusSh mid-write
        // would otherwise chase them. Committed deletions become
        // PHYSICAL here (BatchStore.consolidate). Consolidation must
        // NEVER outrun the pair
        // rebuild: it erases the committed tombstones livePairs
        // anti-joins, so dropping them while dead pairs still sit in
        // the snapshot would RESURRECT those pairs until the next
        // retention pass — hence it rides whichever cadence rebuilds
        // pairs (here, or 3b when decoupled); a crash between the
        // index write and this swap merely defers it to that next
        // cadence, tombstones intact.
        if (pairRebuildEvery <= 0)
          shingles.consolidate(spark, committed, batchId)
      } finally { corpusSh.unpersist(); () }
    }
    // (3b) decoupled pair retention: keyed on the BATCH id, not the
    // chain state, so a crash between the index rebuild and this pass
    // re-triggers it deterministically on re-run (idempotent full
    // recompute + atomic swap). Store consolidation rides THIS cadence
    // when retention is decoupled (see the invariant above).
    if (pairRebuildEvery > 0 && batchId % pairRebuildEvery == 0) JobLabel(spark, s"tick $batchId: pair retention") {
      val l = BandIndex.layout(spark, p.index)
      val corpusSh = shingles.live(spark, batchId)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        DocsStream.rebuildPairs(corpusSh, p.pairs, threshold,
          l.numHashes, l.bands, lit(now.toString).cast("timestamp"))
        shingles.consolidate(spark, committed, batchId)
      } finally { corpusSh.unpersist(); () }
    }
    if (failAt.contains(AfterCompact)) throw new InjectedCrash(AfterCompact)
    leaseCheck()

    // (4) freshness metadata for P11 consumers (idempotent re-stamp):
    // the job row, plus each fetched source's upstream publication
    // stamp (landing.stamps — the landed _STAMPS sidecar, so a crash
    // re-run stamps identical values). A source the fetch SKIPPED as
    // fresh has no stamp here and its source_last_update stays put —
    // the advance-only-on-real-change contract the freshness gate
    // (Main.probeStamp + Watermarks.isFresh) converges on. One
    // control-plane write for the lot.
    operators.Watermarks.upsertAll(spark, p.status,
      (CveJob.JobSource, now, Option.empty[Timestamp]) +:
        landing.stamps.toSeq.sortBy(_._1)
          .map { case (s, up) => (s, now, Some(up)) })

    // (5) THE commit: one atomic marker create — then sweep markers
    // older than the newest KeepMarkers so the tick-listing control
    // plane stays O(KeepMarkers) over years of daily ticks (the max
    // marker is what defines the committed seq, so pruning history
    // never moves it)
    val f = SnapshotIO.fs(spark.sparkContext.hadoopConfiguration, p.ticks)
    f.mkdirs(new Path(p.ticks))
    f.create(new Path(p.ticks, s"tick-$batchId-${now.getTime}"), false).close()
    f.listStatus(new Path(p.ticks)).toSeq.map(_.getPath).collect {
      case pt if Marker.findFirstMatchIn(pt.getName)
                   .exists(_.group(1).toLong <= batchId - keepMarkers) => pt
    }.foreach(f.delete(_, false))
  }

  /** Tick markers retained after each commit (enough history to debug a
    * stretch of ticks; the committed seq is always the max marker). */
  val KeepMarkers = 32

  /** A heartbeat older than this marks the lease abandoned (a crashed
    * holder cannot release) and breakable by the next acquirer. */
  val LeaseStaleMs: Long = 30L * 60 * 1000

  private def leasePath(p: Paths) = new Path(p.root, "lease")
  private def breakerPath(p: Paths) = new Path(p.root, "lease.breaker")

  /** Exclusive create that is ATOMIC on every filesystem the lease can
    * live on. Hadoop's `create(path, overwrite = false)` is atomic on
    * HDFS-class stores but exists-THEN-create on the local filesystem:
    * two racers can both obtain create streams on the same inode and
    * truncate each other's bytes — the failure the stale-lease race
    * spec reproduces under load. For `file://` paths this goes through
    * java.nio's O_EXCL createFile instead (content lands with the
    * create; no Hadoop .crc sidecar, which the checksum reader treats
    * as unverified-raw — fine for a ~100-byte control file). Returns
    * false when the path already exists. */
  private def atomicCreate(f: org.apache.hadoop.fs.FileSystem, path: Path,
                           bytes: Array[Byte]): Boolean =
    if (f.getScheme == "file") {
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path.toUri.getPath), bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try {
        val out = f.create(path, false)
        try out.write(bytes) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException => false
      }
    }

  /** Best-effort holder read for error MESSAGES only — swallows read
    * failures into "<unknown>". Ownership decisions go through
    * [[readLeaseHolderChecked]], which keeps transient read errors
    * distinguishable from a genuine holder mismatch. */
  private def readLeaseHolder(f: org.apache.hadoop.fs.FileSystem,
                              lp: Path): String =
    scala.util.Try(readLeaseHolderChecked(f, lp)).getOrElse("<unknown>")

  /** Holder read that lets IO failures PROPAGATE: the heartbeat's
    * 3-strike retry policy absorbs a filesystem hiccup instead of
    * misreading it as a lost lease (fail-safe, but an availability
    * bug the round-13 advice flagged). */
  private def readLeaseHolderChecked(f: org.apache.hadoop.fs.FileSystem,
                                     lp: Path): String = {
    val in = f.open(lp)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Advisory single-writer lease over the loop root. Every store under
    * it assumes ONE nightly writer by contract (the AnnIndex/BandIndex
    * claim scheme makes a second writer burn version numbers rather
    * than corrupt committed state — but it would still duplicate work,
    * and a whole-dir consolidation swap racing a concurrent append can
    * drop the other writer's partition). The lease turns that contract
    * loud: acquisition is an atomic claim-file create, a live holder's
    * heartbeat (file mtime, refreshed by [[LeaseHeartbeat]] WITHIN long
    * ticks, not just between them) blocks contenders with an
    * IllegalStateException, and a heartbeat older than `staleMs` is a
    * crash leftover the next acquirer breaks.
    *
    * Breaking a stale lease is serialized through a BREAKER MUTEX —
    * `lease.breaker`, claimed by atomic exclusive create and STAMPED
    * with the claimant's id: the stale lease is deleted only while the
    * mutex still reads back as ours AND after re-verifying, under it,
    * that the lease is still stale. A fresh lease is therefore never
    * deleted in any clean execution. Both the lease and the breaker are
    * claimed through [[atomicCreate]] — genuinely exclusive on the
    * local filesystem too, where Hadoop's create(overwrite=false) is
    * exists-then-create and two racers can truncate each other's
    * bytes. The post-create ownership verify (settle, then read)
    * remains as the belt for stores whose create is not exclusive at
    * all (object stores): a clean mismatch is a race loss, immediately
    * fatal; a read ERROR retries briefly and, if persistent, aborts as
    * an IO failure without touching the file (it may legitimately be
    * another winner's lease on such a store). The create
    * itself stays the winner-decider — contenders that found no live
    * lease race the exclusive create and exactly one wins. A breaker
    * stranded by a crashed contender blocks breaks only until it is
    * itself older than `staleMs` (the next acquirer sweeps it — one
    * extra stale window worst-case before an abandoned root is
    * reclaimable, the same currency the lease itself is priced in).
    * The sweep is stat-then-delete and can, in a pathological
    * interleave, land on a mutex a live claimant just created; the
    * claimant's under-mutex identity re-read catches that before any
    * lease is touched, and whatever sub-millisecond residue remains is
    * bounded by the same detectors as below (post-create verify,
    * heartbeat within staleMs/3, step-boundary checks) — never a
    * silent full-tick dual writer.
    *
    * Residual window, by design: a holder that genuinely lets its
    * lease go stale (heartbeat thread dead, tick overrunning with no
    * [[LeaseHeartbeat]]) can be legally broken mid-step; the holder
    * learns at its next heartbeat or [[runTick]] step-boundary
    * `leaseCheck`, so the dual-writer exposure is bounded by one tick
    * step, not a whole tick. */
  def acquireLease(spark: SparkSession, p: Paths, holder: String,
                   staleMs: Long = LeaseStaleMs): Unit = {
    val f = SnapshotIO.fs(spark.sparkContext.hadoopConfiguration, p.root)
    f.mkdirs(new Path(p.root))
    val lp = leasePath(p)
    val bp = breakerPath(p)
    def lostRace = new IllegalStateException(
      s"daily-loop root ${p.root}: lost the lease race to another writer")
    var attempts = 0
    while (attempts < 3) {
      attempts += 1
      var sweptBreaker = false
      if (f.exists(lp)) {
        scala.util.Try(f.getFileStatus(lp)).toOption.foreach { s =>
          val age = System.currentTimeMillis() - s.getModificationTime
          if (age < staleMs)
            throw new IllegalStateException(
              s"daily-loop root ${p.root} is leased by " +
                s"'${readLeaseHolder(f, lp)}' (heartbeat ${age / 1000}s " +
                "ago) — refusing to run a second writer; stop it or wait " +
                "for the lease to go stale")
          // stale: claim the breaker mutex (stamped with our identity),
          // or learn who beat us to it
          val claimed =
            if (atomicCreate(f, bp, holder.getBytes(StandardCharsets.UTF_8)))
              true
            else {
              val bAge = scala.util.Try(f.getFileStatus(bp)).toOption
                .map(b => System.currentTimeMillis() - b.getModificationTime)
              if (bAge.forall(_ >= staleMs)) {
                // stranded by a crashed contender (or already gone):
                // sweep and re-run the whole acquire pass. Re-stat
                // right before deleting — a live claimant may have
                // re-created the breaker since our first stat, and a
                // delete must never land on a fresh mutex (the
                // claimant's identity re-read below backstops the
                // window this re-stat cannot close).
                if (bAge.nonEmpty &&
                    scala.util.Try(f.getFileStatus(bp)).toOption.forall(b =>
                      System.currentTimeMillis() - b.getModificationTime >= staleMs))
                  f.delete(bp, false)
                sweptBreaker = true; false
              } else throw lostRace // a live contender is mid-break
            }
          if (claimed) {
            var mutexOurs = true
            try {
              // identity re-read UNDER the mutex: a sweeper racing on a
              // stale first-stat may have deleted this breaker right
              // after we created it (and another contender re-claimed
              // the path). Touching the lease is only safe while the
              // mutex file still carries OUR id.
              if (scala.util.Try(readLeaseHolderChecked(f, bp))
                    .getOrElse("<gone>") != holder) {
                mutexOurs = false
                throw lostRace
              }
              // re-verify staleness UNDER the mutex: a racer may have
              // broken and re-claimed between our stat and our create
              scala.util.Try(f.getFileStatus(lp)).toOption.foreach { c =>
                if (System.currentTimeMillis() - c.getModificationTime < staleMs)
                  throw lostRace
                f.delete(lp, false); ()
              }
            } finally {
              // release only a mutex that is provably ours — deleting
              // the path after losing it would erase the new claimant's
              if (mutexOurs) { f.delete(bp, false); () }
            }
          }
        }
      }
      if (sweptBreaker) {
        // loop back: the stale lease is still there and must be broken
        // under a freshly claimed mutex
      } else {
        var created = false
        try {
          if (!atomicCreate(f, lp, holder.getBytes(StandardCharsets.UTF_8)))
            throw lostRace // atomic-create lost a race with another acquirer
          created = true
        } catch { // parent raced away; retry the pass
          case _: java.io.FileNotFoundException => ()
          case _: java.nio.file.NoSuchFileException => ()
        }
        if (created) {
          // Settle, then read-back verify — the belt for stores whose
          // create is not exclusive at all (object stores): if two
          // writers somehow both "created", both writes land within the
          // settle and the content read picks exactly the LAST writer —
          // one winner. (On local and HDFS the atomicCreate above
          // already decided.) A CLEAN read of another holder is a race
          // loss, immediately fatal. A read ERROR retries briefly — a
          // filesystem hiccup must not be mistaken for a usurper
          // (round-14 review: the swallowing read regressed exactly the
          // distinction heartbeats got); if it persists we abort as an
          // IO failure WITHOUT deleting the file (on a non-exclusive
          // store it may legitimately be another winner's lease) — a
          // stranded own lease then costs one stale window, the
          // fail-safe side.
          Thread.sleep(150L)
          var ioTries = 0
          while (true) {
            try {
              if (readLeaseHolderChecked(f, lp) != holder) throw lostRace
              return
            } catch {
              case e: java.io.IOException =>
                ioTries += 1
                if (ioTries >= 3)
                  throw new java.io.IOException(
                    s"daily-loop root ${p.root}: could not verify lease " +
                      "ownership after create (persistent read failure)", e)
                Thread.sleep(100L)
            }
          }
        }
      }
    }
    throw new IllegalStateException(
      s"daily-loop root ${p.root}: could not acquire the lease after " +
        s"$attempts attempts")
  }

  /** Refresh the lease heartbeat (mtime), verifying ownership when the
    * holder is known: a CLEAN read of a missing lease or another
    * holder's id means this writer lost its lease — a contender legally
    * broke it while a tick overran the stale window without
    * heartbeating — and must stop LOUDLY rather than race the new
    * holder's consolidation swaps. Nothing in the acquire protocol
    * deletes or renames a FRESH lease, so there is no transient state
    * to re-read past: ownership loss is decided on one clean read. A
    * read ERROR, by contrast, propagates as-is (IOException) so the
    * [[LeaseHeartbeat]] thread's 3-strike policy can absorb a
    * filesystem hiccup instead of killing a healthy writer. */
  def heartbeatLease(spark: SparkSession, p: Paths,
                     holder: Option[String] = None): Unit = {
    val f = SnapshotIO.fs(spark.sparkContext.hadoopConfiguration, p.root)
    val lp = leasePath(p)
    holder.foreach { h =>
      val cur =
        if (f.exists(lp)) readLeaseHolderChecked(f, lp) else "<missing>"
      if (cur != h)
        throw new IllegalStateException(
          s"daily-loop root ${p.root}: lease lost to '$cur' — stopping " +
            "this writer (its heartbeat went stale mid-tick)")
    }
    f.setTimes(lp, System.currentTimeMillis(), -1)
  }

  /** Background heartbeat for the duration of a loop: refreshes the
    * lease mtime every `staleMs / 3` from a daemon thread so a tick
    * longer than the stale window (an O(corpus) compaction or refresh
    * tick at scale) cannot make a LIVE holder look abandoned. A failed
    * heartbeat (lease lost) is surfaced on the next [[check]] — the
    * loop calls it every pass and aborts instead of writing
    * concurrently with the usurper. */
  final class LeaseHeartbeat(spark: SparkSession, p: Paths, holder: String,
                             staleMs: Long) extends AutoCloseable {
    @volatile private var failure: Option[Throwable] = None
    @volatile private var running = true
    private val t = new Thread(() => {
      val interval = math.max(staleMs / 3, 50L)
      var strikes = 0
      while (running && failure.isEmpty) {
        try { heartbeatLease(spark, p, Some(holder)); strikes = 0 }
        catch {
          // ownership loss is FATAL immediately; a transient FS error is
          // retried — giving up on the first hiccup would silently stop
          // heartbeating mid-tick and let a contender legally break a
          // live holder (the exact failure this thread exists to prevent)
          case e: IllegalStateException => failure = Some(e)
          case _: InterruptedException => running = false
          case e: Throwable =>
            strikes += 1
            if (strikes >= 3) failure = Some(e)
        }
        val deadline = System.currentTimeMillis() + interval
        try {
          while (running && System.currentTimeMillis() < deadline)
            Thread.sleep(math.min(50L, interval))
        } catch { case _: InterruptedException => running = false }
      }
    }, s"graft-lease-heartbeat-${p.root.hashCode}")
    t.setDaemon(true)
    t.start()
    /** Throws if the background heartbeat observed a lost lease. */
    def check(): Unit = failure.foreach(e => throw e)
    def close(): Unit = { running = false; t.interrupt(); t.join(1000L) }
  }

  /** Release the lease IF it is still this holder's (compare-then-
    * delete): an unconditional delete would erase a USURPER's live
    * lease exactly when this writer is exiting because it lost its own
    * — re-opening the dual-writer window the lease exists to close.
    * No holder given = unconditional (operator override / specs). */
  def releaseLease(spark: SparkSession, p: Paths,
                   holder: Option[String] = None): Unit = {
    val f = SnapshotIO.fs(spark.sparkContext.hadoopConfiguration, p.root)
    val lp = leasePath(p)
    val mine = holder.forall(h => f.exists(lp) && readLeaseHolder(f, lp) == h)
    if (mine) { f.delete(lp, false); () }
  }

  /** Run `body` as this store's single writer: a contending writer fails
    * HERE, loudly, before touching any store; a daemon [[LeaseHeartbeat]]
    * keeps the lease fresh THROUGH long ticks (an O(corpus) compaction
    * tick must not look abandoned mid-run) and is handed to `body` to
    * check; the lease is released (if still ours) on every exit. `tag`
    * marks the holder id (`host:pid:<tag>uuid`), e.g. "once:" for a
    * one-shot run. */
  def withLease[A](spark: SparkSession, p: Paths, tag: String,
                   staleMs: Long = LeaseStaleMs)(body: LeaseHeartbeat => A): A = {
    val holder = java.net.InetAddress.getLocalHost.getHostName +
      ":" + ProcessHandle.current().pid() + ":" + tag +
      java.util.UUID.randomUUID()
    acquireLease(spark, p, holder, staleMs)
    val hb = new LeaseHeartbeat(spark, p, holder, staleMs)
    try body(hb)
    finally { hb.close(); releaseLease(spark, p, Some(holder)) }
  }

  /** The scheduler loop (T1/T6 shape, marker clock): tick when due,
    * sleep otherwise, stop cooperatively, all under the single-writer
    * lease. Returns ticks run. `tick(seq, now, leaseCheck)` runs one
    * tick — typically [[runTick]] over the seq's landed inputs: a
    * long-running deployment lands a fresh set of files each day, so
    * the inputs must be built per seq (a fixed Landing would re-merge
    * day one's files forever), and an in-process fetch windows its
    * paginated pulls to (stored, now] with the tick's OWN stamp. */
  def loop(spark: SparkSession, p: Paths, intervalHours: Double,
           shouldStop: () => Boolean, clock: () => Timestamp,
           sleepMs: Long = 1000L)(tick: (Long, Timestamp, () => Unit) => Unit): Int =
    withLease(spark, p, "") { hb =>
      var ticks = 0
      while (!shouldStop()) {
        // liveness is the background heartbeat's job (it refreshes and
        // ownership-verifies every staleMs/3); the loop only surfaces
        // a loss it observed — a per-pass foreground read here would
        // pay an open+read every sleepMs for nothing
        hb.check()
        val now = clock()
        if (isTickDue(spark, p, now, intervalHours)) {
          tick(committedTick(spark, p)._1 + 1, now, () => hb.check())
          ticks += 1
        } else Thread.sleep(sleepMs)
      }
      ticks
    }
}
