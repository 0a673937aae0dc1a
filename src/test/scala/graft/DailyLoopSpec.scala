package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.CvePipeline.Landing
import graft.operators.{BandIndex, Dedup}

/** The operational daily loop end-to-end: scheduler ticks landing CVE
  * deltas (K1 merge) and document deltas (persisted-index dedup), with
  * compaction cadence and injected crashes between tick steps. */
class DailyLoopSpec extends SparkSpec {

  private def landing = Landing(
    nvd = Some(res("nvd_page.json")),
    epss = Some(res("epss_scores.csv")),
    kev = Some(res("known_exploited_vulnerabilities.json")))

  private def ts(s: String) = Timestamp.valueOf(s)

  private val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    .select("doc_id", "text")

  /** Three daily deltas covering the corpus (mod split keeps near-dup
    * pairs spread across deltas, so cross-delta probes matter). */
  private def delta(seq: Long): DataFrame =
    docs.filter(col("doc_id") % 3 === lit((seq - 1) % 3))

  private def work() =
    SparkSpec.tempDir("graft_dailyloop_").toString

  /** The loop's tick: the CVE fixtures plus the seq's document delta. */
  private def cveAndDocsTick(p: DailyLoop.Paths)(seq: Long, now: Timestamp,
                                                 leaseCheck: () => Unit): Unit =
    DailyLoop.runTick(spark, landing, delta(seq), p, now, leaseCheck = leaseCheck)

  private def pairSet(p: DailyLoop.Paths) =
    graft.streaming.DocsStream.readPairs(spark, p.pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private lazy val batchTruth = Dedup.minhashDupPairs(docs, 0.8)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("N ticks land deltas, merge, probe, append; final pairs equal the batch truth") {
    val p = DailyLoop.Paths(work())
    var calls = 0
    val clockTimes = Seq(
      ts("2025-04-01 00:00:00"), // tick 1 (day zero)
      ts("2025-04-02 00:00:00"), // tick 2
      ts("2025-04-03 00:00:00"), // tick 3
      ts("2025-04-03 12:00:00")) // not due — sleeps
    val ticks = DailyLoop.loop(spark, p, intervalHours = 24,
      shouldStop = () => calls >= clockTimes.length,
      clock = () => {
        val t = clockTimes(math.min(calls, clockTimes.length - 1))
        calls += 1; t
      },
      sleepMs = 1L)(cveAndDocsTick(p))
    assert(ticks == 3)
    assert(DailyLoop.committedTick(spark, p)._1 == 3L)
    // the dedup state converged to the full-corpus batch answer
    assert(pairSet(p) == batchTruth && batchTruth.nonEmpty)
    // base + 3 layers, chain intact
    assert(BandIndex.chainLength(spark, p.index) == 4)
    // the CVE snapshot merged every tick: one row per id, freshness stamped
    val snap = spark.read.parquet(p.snapshot)
    assert(snap.select("id").distinct().count() == snap.count() && snap.count() > 0)
    assert(operators.Watermarks.lastUpdated(spark, p.status, CveJob.JobSource)
      .contains(ts("2025-04-03 00:00:00")))
    // not-due probe did not tick
    assert(!DailyLoop.isTickDue(spark, p, ts("2025-04-03 12:00:00")))
    // fractional (sub-hour) intervals: due exactly at the half-hour mark
    assert(!DailyLoop.isTickDue(spark, p, ts("2025-04-03 00:29:00"),
      intervalHours = 0.5))
    assert(DailyLoop.isTickDue(spark, p, ts("2025-04-03 00:30:00"),
      intervalHours = 0.5))
  }

  test("compaction cadence: the chain is collapsed in-loop and pairs are unchanged") {
    val p = DailyLoop.Paths(work())
    (1 to 3).foreach { d =>
      DailyLoop.runTick(spark, landing, delta(d), p,
        ts(f"2025-04-0$d%d 00:00:00"), maxChain = 2)
      // bounded probe cost: never more than maxChain+1 versions walked
      // (the +1 is the tick that triggers the NEXT compaction)
      assert(BandIndex.chainLength(spark, p.index) <= 3)
    }
    // compaction must not change answers
    assert(pairSet(p) == batchTruth)
    // and the compacted index still probes correctly on a fresh tick:
    // re-landing delta 1 discovers nothing new (all pairs known)
    DailyLoop.runTick(spark, landing, delta(1), p, ts("2025-04-04 00:00:00"),
      maxChain = 2)
    assert(pairSet(p) == batchTruth)
  }

  test("compaction expires pairs whose docs drifted apart (pair retention)") {
    import spark.implicits._
    val p = DailyLoop.Paths(work())
    val textA = "the quick brown fox jumps over the lazy dog again and again today"
    // tick 1: two identical docs — pair (1,2) verified at jaccard 1.0
    DailyLoop.runTick(spark, CvePipeline.Landing(),
      Seq((1L, textA), (2L, textA)).toDF("doc_id", "text"),
      p, ts("2025-04-01 00:00:00"))
    def pairs() = graft.streaming.DocsStream.readPairs(spark, p.pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() == Set((1L, 2L)))
    // tick 2: doc 2 drifts completely away — the per-tick sink is
    // monotone, so the stale pair SURVIVES this tick
    DailyLoop.runTick(spark, CvePipeline.Landing(),
      Seq((2L, "entirely unrelated zebra content sharing no trigram shingles whatsoever with anything"))
        .toDF("doc_id", "text"),
      p, ts("2025-04-02 00:00:00"))
    assert(pairs() == Set((1L, 2L)))
    // tick 3: maxChain = 1 forces compaction — retention rebuilds the
    // pair snapshot from the compacted corpus and the pair expires
    DailyLoop.runTick(spark, CvePipeline.Landing(),
      Seq((3L, "a third document with its own fresh words nothing in common here"))
        .toDF("doc_id", "text"),
      p, ts("2025-04-03 00:00:00"), maxChain = 1)
    assert(pairs().isEmpty)
    // and a later tick re-landing doc 2's ORIGINAL text re-discovers the
    // pair against the compacted index
    DailyLoop.runTick(spark, CvePipeline.Landing(),
      Seq((2L, textA)).toDF("doc_id", "text"),
      p, ts("2025-04-04 00:00:00"), maxChain = 1000)
    assert(pairs() == Set((1L, 2L)))
  }

  test("pairRebuildEvery decouples retention from compaction cadence") {
    import spark.implicits._
    val p = DailyLoop.Paths(work())
    val textA = "the quick brown fox jumps over the lazy dog again and again today"
    def pairs() = graft.streaming.DocsStream.readPairs(spark, p.pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def tick(seq: Int, delta: org.apache.spark.sql.DataFrame): Unit =
      DailyLoop.runTick(spark, CvePipeline.Landing(), delta, p,
        ts(f"2025-04-0$seq%d 00:00:00"), maxChain = 1,
        pairRebuildEvery = 4)
    // tick 1: identical docs pair up; tick 2: doc 2 drifts away
    tick(1, Seq((1L, textA), (2L, textA)).toDF("doc_id", "text"))
    tick(2, Seq((2L, "entirely unrelated zebra content sharing no trigram shingles whatsoever with anything"))
      .toDF("doc_id", "text"))
    // tick 3 COMPACTS (maxChain=1) but retention is decoupled — the
    // stale pair survives the index rebuild
    tick(3, Seq((3L, "a third document with its own fresh words nothing in common here"))
      .toDF("doc_id", "text"))
    assert(graft.operators.BandIndex.chainLength(spark, p.index) <= 2,
      "index must have compacted")
    assert(pairs() == Set((1L, 2L)), "retention must NOT ride compaction")
    // tick 4 hits the retention cadence (batch 4 % 4 == 0): the
    // drifted-apart pair expires on ITS schedule
    tick(4, Seq((4L, "completely different words once more for the fourth daily delta here"))
      .toDF("doc_id", "text"))
    assert(pairs().isEmpty, "retention must fire on its own cadence")
  }

  test("single-writer lease: a second contending loop aborts loudly; stale leases break") {
    val p = DailyLoop.Paths(work())
    // writer A holds the lease with a fresh heartbeat → a second loop
    // must refuse to start (two interleaved nightly writers would burn
    // version numbers and duplicate every tick's work)
    DailyLoop.acquireLease(spark, p, "writer-a")
    val err = intercept[IllegalStateException] {
      DailyLoop.loop(spark, p, intervalHours = 24,
        shouldStop = () => true, clock = () => ts("2025-04-01 00:00:00"))(cveAndDocsTick(p))
    }
    assert(err.getMessage.contains("leased by 'writer-a'"))
    // a crashed holder never releases — but its heartbeat goes stale
    // and the next acquirer breaks the lease and proceeds
    val err2 = intercept[IllegalStateException] {
      DailyLoop.acquireLease(spark, p, "writer-b") // still fresh
    }
    assert(err2.getMessage.contains("refusing"))
    DailyLoop.acquireLease(spark, p, "writer-b", staleMs = 0) // stale now
    // the loop releases on exit: a fresh run right after one finishes
    // must acquire cleanly
    DailyLoop.releaseLease(spark, p)
    val ticks = DailyLoop.loop(spark, p, intervalHours = 24,
      shouldStop = () => true, clock = () => ts("2025-04-01 00:00:00"))(cveAndDocsTick(p))
    assert(ticks == 0)
    DailyLoop.loop(spark, p, intervalHours = 24,
      shouldStop = () => true, clock = () => ts("2025-04-01 00:00:00"))(cveAndDocsTick(p))
  }

  test("decoupled retention never resurrects deleted pairs at consolidation") {
    import spark.implicits._
    import graft.streaming.DocsStream
    val p = DailyLoop.Paths(work())
    val textA = "the quick brown fox jumps over the lazy dog again and again today"
    def tick(seq: Int, delta: org.apache.spark.sql.DataFrame,
             rem: Option[org.apache.spark.sql.DataFrame] = None): Unit =
      DailyLoop.runTick(spark, CvePipeline.Landing(), delta, p,
        ts(f"2025-04-0$seq%d 00:00:00"), maxChain = 1,
        pairRebuildEvery = 4, docRemovals = rem)
    def live(upTo: Long) = DocsStream.livePairs(spark, p.pairs, p.store, upTo)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    tick(1, Seq((1L, textA), (2L, textA)).toDF("doc_id", "text"))
    assert(live(1) == Set((1L, 2L)))
    // tick 2 DELETES doc 2 and compacts (maxChain=1) WITHOUT a pair
    // rebuild (retention decoupled). Consolidation must be deferred:
    // were the tombstones erased now, the dead pair — still sitting in
    // the un-rebuilt snapshot — would come back from the dead.
    tick(2, Seq.empty[(Long, String)].toDF("doc_id", "text"),
      rem = Some(Seq(2L).toDF("doc_id")))
    assert(live(2).isEmpty, "deleted pair resurrected after compaction")
    assert(DocsStream.shingleStore(p.store).deleted(spark, 2).count() == 1,
      "tombstone must survive a retention-less consolidation window")
    // ticks 3-4: tick 4 hits the retention cadence — pairs rebuilt
    // WITHOUT the dead doc, and only then does the store consolidate
    tick(3, Seq.empty[(Long, String)].toDF("doc_id", "text"))
    tick(4, Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(live(4).isEmpty)
    assert(DocsStream.readPairs(spark, p.pairs).count() == 0,
      "retention must drop the dead pair physically")
    assert(DocsStream.shingleStore(p.store).deleted(spark, 4).count() == 0,
      "consolidation on the retention tick makes the delete physical")
  }

  test("marker retention: old tick markers prune, the committed seq never moves") {
    val p = DailyLoop.Paths(work())
    (1 to 3).foreach { d =>
      DailyLoop.runTick(spark, CvePipeline.Landing(), delta(d), p,
        ts(f"2025-04-0$d%d 00:00:00"), keepMarkers = 2)
    }
    val markers = new java.io.File(p.ticks).listFiles.map(_.getName)
      .filter(_.startsWith("tick-")).sorted // hadoop local FS adds .crc sidecars
    assert(markers.length == 2, markers.toSeq) // tick-1 pruned
    assert(DailyLoop.committedTick(spark, p)._1 == 3L)
    assert(!DailyLoop.isTickDue(spark, p, ts("2025-04-03 12:00:00")))
  }

  test("incremental tick rewrites only the CVE buckets its delta touches") {
    import java.nio.file.{Files, Paths => JPaths}
    val p = DailyLoop.Paths(work())
    // tick 1: full landing — day-zero init of the bucketed snapshot
    DailyLoop.runTick(spark, landing, delta(1), p, ts("2025-04-01 00:00:00"))
    def hashes(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      val base = JPaths.get(p.snapshot)
      Files.walk(base).iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet"))
        .map { f =>
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(Files.readAllBytes(f))
          base.relativize(f).toString -> d.map("%02x".format(_)).mkString
        }.toMap
    }
    def bucketOf(rel: String): String = rel.split("/")
      .find(_.startsWith(operators.PartitionedSnapshot.BucketCol + "=")).get
    val before = hashes()
    val bucketsBefore = before.keySet.map(bucketOf)
    assert(bucketsBefore.size > 2, "fixture spreads over several buckets")
    // tick 2: a TINY epss-only landing touching one existing id — the
    // bounded K1 path must rewrite only that id's bucket
    val tiny = SparkSpec.tempDir("graft_tinyepss_")
      .resolve("epss_tiny.csv")
    Files.write(tiny, java.util.Arrays.asList(
      "#model_version:v2023.03.01,score_date:2025-04-02T00:00:00Z",
      "cve,epss,percentile",
      "CVE-2024-0001,0.50000,0.90000"))
    DailyLoop.runTick(spark, CvePipeline.Landing(epss = Some(tiny.toString)),
      delta(2), p, ts("2025-04-02 00:00:00"))
    val after = hashes()
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k)).map(bucketOf)
    assert(changed.size == 1, s"one id must touch one bucket, got $changed")
    // untouched buckets are BYTE-identical (never rewritten)
    val untouched = before.filter(kv => !changed(bucketOf(kv._1)))
    assert(untouched.nonEmpty &&
      untouched == after.filter(kv => !changed(bucketOf(kv._1))))
    // and the merge itself is correct: new epss value, fresh updated_at
    // on the touched row, everything else preserved
    val snap = operators.PartitionedSnapshot.read(spark, p.snapshot)
    val r = snap.filter(col("id") === "CVE-2024-0001")
      .select(col("epss.epss_score"), col("updated_at")).head()
    assert(math.abs(r.getDouble(0) - 0.5) < 1e-9)
    assert(r.getTimestamp(1) == ts("2025-04-02 00:00:00"))
    val other = snap.filter(col("id") === "CVE-2021-0002")
      .select("updated_at").head()
    assert(other.getTimestamp(0) == ts("2025-04-01 00:00:00"))
  }

  test("a crash after ANY step re-runs the tick and converges to the crash-free state") {
    import DailyLoop._
    // reference run, no crashes
    val ref = Paths(work())
    (1 to 3).foreach(d =>
      runTick(spark, landing, delta(d), ref, ts(f"2025-04-0$d%d 00:00:00"),
        maxChain = 2))
    val refPairs = pairSet(ref)
    val refStore = graft.streaming.DocsStream.shingleStore(ref.store).raw(spark).select("doc_id", "shingle").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    for (fp <- Seq(AfterMerge, AfterDedup, AfterCompact)) {
      val p = Paths(work())
      runTick(spark, landing, delta(1), p, ts("2025-04-01 00:00:00"), maxChain = 2)
      // tick 2 crashes mid-way, then the operator re-runs it
      intercept[InjectedCrash] {
        runTick(spark, landing, delta(2), p, ts("2025-04-02 00:00:00"),
          maxChain = 2, failAt = Some(fp))
      }
      assert(DailyLoop.committedTick(spark, p)._1 == 1L, s"$fp committed early")
      runTick(spark, landing, delta(2), p, ts("2025-04-02 00:05:00"), maxChain = 2)
      runTick(spark, landing, delta(3), p, ts("2025-04-03 00:00:00"), maxChain = 2)
      // identical end state: pairs, store contents, tick count, snapshot keys
      assert(pairSet(p) == refPairs, s"pairs diverged after crash $fp")
      val store = graft.streaming.DocsStream.shingleStore(p.store).raw(spark).select("doc_id", "shingle").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(store == refStore, s"store diverged after crash $fp")
      // no doubled (batch-spanning) shingle rows anywhere
      val dbl = graft.streaming.DocsStream.shingleStore(p.store).raw(spark).groupBy("doc_id", "shingle").count()
        .filter(col("count") > 1).count()
      assert(dbl == 0, s"$dbl doubled store rows after crash $fp")
      assert(DailyLoop.committedTick(spark, p)._1 == 3L)
      val snap = spark.read.parquet(p.snapshot)
      assert(snap.select("id").distinct().count() == snap.count())
    }
  }

  test("ANN ingest in the loop: batch-stamped idempotence, compaction, loop == no-loop truth") {
    import graft.operators.{AnnIndex, Similarity}
    val p = DailyLoop.Paths(work())
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def emb(d: Int) = e.filter(col("vec_id") % 3 === lit(d - 1))
    val emptyDocs = docs.limit(0)
    // tick 1 trains the base, then CRASHES after the ann step — the
    // re-run must SKIP the build (its batch is at the committed head);
    // duplicate PQ codes would double ADC sums, so this is load-bearing
    intercept[DailyLoop.InjectedCrash] {
      DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
        ts("2025-04-01 00:00:00"), embDelta = Some(emb(1)),
        annMaxChain = 1, failAt = Some(DailyLoop.AfterAnn))
    }
    DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
      ts("2025-04-01 00:05:00"), embDelta = Some(emb(1)), annMaxChain = 1)
    val m = AnnIndex.pqParams(spark, p.ann).m
    assert(AnnIndex.pqCodes(spark, p.ann).count() == emb(1).count() * m)
    assert(AnnIndex.headBatch(spark, p.ann).contains(1L))
    // tick 2 appends and annMaxChain=1 compacts mid-sequence; tick 3
    // appends onto the compacted base
    DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
      ts("2025-04-02 00:00:00"), embDelta = Some(emb(2)), annMaxChain = 1)
    assert(AnnIndex.pqChain(spark, p.ann).length == 1) // compacted
    DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
      ts("2025-04-03 00:00:00"), embDelta = Some(emb(3)), annMaxChain = 1)
    assert(AnnIndex.pqCodes(spark, p.ann).count() == e.count() * m)
    // the loop's surviving artifact answers EXACTLY like the no-loop
    // lifecycle: books trained on tick 1's delta, everything encoded
    val q = e.filter(col("vec_id") % 100 === 0)
    val books = Similarity.pqTrain(
      Similarity.unitVectors(emb(1), Seq("vec_id" -> "id")), 4, 16, 16, 2)
    val truth = Similarity.pqTopKFrom(books,
      Similarity.pqEncode(Similarity.unitVectors(e, Seq("vec_id" -> "id")),
        books, 4, 16), q, k = 5)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(AnnIndex.pqTopK(spark, p.ann, q, k = 5)) == rows(truth)
      && truth.count() > 0)
    // the deltas carried `label`, so the tick ALSO maintained the IVF
    // posting store: compacted chain, full coverage, and the probe
    // equals the no-loop truth (centroids trained on tick 1's third)
    assert(AnnIndex.ivfpChain(spark, p.annPost).length == 1)
    assert(AnnIndex.ivfpPostings(spark, p.annPost).count() == e.count())
    val unitsB = Similarity.unitVectors(emb(1), Seq("vec_id" -> "id", "label" -> "cell"))
    val centsB = Similarity.kmeansRefineExact(
      unitsB, Similarity.exactCentroids(unitsB), 1)
    val corpusAssigned = e.drop("label")
      .join(Similarity.assignCells(
          Similarity.unitVectors(e, Seq("vec_id" -> "id")), centsB)
        .select(col("id").as("vec_id"), col("assigned_cell").as("label")), "vec_id")
    assert(rows(AnnIndex.postingsTopK(spark, p.annPost, q, k = 3, nprobe = 2))
      == rows(Similarity.cellTopKMultiProbe(corpusAssigned, q, centsB,
                k = 3, nprobe = 2)))
    // an embedding-free tick leaves the artifacts untouched, and so does
    // a ZERO-ROW delta (a day-zero empty build would train an empty,
    // poisonous codebook — the guard skips the step entirely)
    DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
      ts("2025-04-04 00:00:00"))
    DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
      ts("2025-04-05 00:00:00"), embDelta = Some(e.limit(0)))
    assert(AnnIndex.headBatch(spark, p.ann).contains(3L))
    assert(AnnIndex.headBatch(spark, p.annPost).contains(3L))
    assert(AnnIndex.pqCodes(spark, p.ann).count() == e.count() * m)
    // a LABEL-LESS delta of new ids still maintains BOTH artifacts once
    // they are live — the posting append assigns against the pinned
    // centroids, so the store never silently falls behind the PQ index
    val fresh = e.limit(5).select(
      (col("vec_id") + lit(100000L)).as("vec_id"), col("embedding"))
    DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
      ts("2025-04-06 00:00:00"), embDelta = Some(fresh))
    assert(AnnIndex.pqCodes(spark, p.ann).count() == (e.count() + 5) * m)
    assert(AnnIndex.ivfpPostings(spark, p.annPost).count() == e.count() + 5)
    assert(AnnIndex.headBatch(spark, p.annPost).contains(6L))
    // a re-DELIVERED id across ticks (a NEW batch id, so the batch
    // stamp cannot catch it) ABORTS the tick loudly via the per-layer
    // bloom guard instead of silently doubling ADC sums — and the
    // aborted tick commits no marker
    val before = DailyLoop.committedTick(spark, p)._1
    val err = intercept[IllegalArgumentException] {
      DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
        ts("2025-04-07 00:00:00"), embDelta = Some(e.limit(3)))
    }
    assert(err.getMessage.contains("already in the chain"))
    assert(DailyLoop.committedTick(spark, p)._1 == before)
  }

  test("doc removals: pairs hidden the same tick, dropped physically at compaction, re-add revives") {
    import graft.streaming.DocsStream
    val p = DailyLoop.Paths(work())
    (1 to 3).foreach { d =>
      DailyLoop.runTick(spark, Landing(), delta(d), p,
        ts(f"2025-04-0$d%d 00:00:00"))
    }
    def livePairSet(upTo: Long) =
      DocsStream.livePairs(spark, p.pairs, p.store, upTo).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(livePairSet(3) == batchTruth)
    // tick 4 deletes doc_id % 7 == 0: every pair touching a removed doc
    // vanishes from the LIVE view that very tick — while the raw
    // snapshot still holds it (the delete is logical until compaction)
    val removed = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    DailyLoop.runTick(spark, Landing(), docs.limit(0), p,
      ts("2025-04-04 00:00:00"), docRemovals = Some(removed))
    val truthAfter = Dedup.minhashDupPairs(
        docs.filter(col("doc_id") % 7 =!= 0), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(truthAfter != batchTruth, "fixture must lose pairs on delete")
    assert(livePairSet(4) == truthAfter)
    assert(pairSet(p) == batchTruth) // raw view unchanged pre-compaction
    // tick 5 compacts (maxChain=1): deletion becomes PHYSICAL — the
    // pair snapshot, the shingle store and the tombstone set itself
    DailyLoop.runTick(spark, Landing(), docs.limit(0), p,
      ts("2025-04-05 00:00:00"), maxChain = 1)
    assert(pairSet(p) == truthAfter)
    val rawStore = DocsStream.shingleStore(p.store).raw(spark)
    assert(rawStore.join(removed, Seq("doc_id")).count() == 0)
    assert(DocsStream.shingleStore(p.store).deleted(spark, 5).count() == 0)
    // and the store consolidated to ONE committed batch partition
    assert(rawStore.select("batch").distinct().count() == 1)
    // tick 6 re-lands the removed docs: deletion is reversible — the
    // full-corpus truth comes back
    DailyLoop.runTick(spark, Landing(),
      docs.filter(col("doc_id") % 7 === 0), p, ts("2025-04-06 00:00:00"))
    assert(livePairSet(6) == batchTruth)
    assert(pairSet(p) == batchTruth)
  }

  test("a crash after ANY step of a REMOVAL tick converges too (tombstones + consolidation)") {
    import DailyLoop._
    val removed = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    // data rows and tombstone rows compared separately — the removal
    // tick's own tombstones legitimately persist in its (now
    // committed) batch partition until the NEXT consolidation covers
    // them, so the raw store carries null-shingle rows here
    def rawStore(p: Paths) = {
      val raw = graft.streaming.DocsStream.shingleStore(p.store).raw(spark)
      (raw.filter(col("shingle").isNotNull)
         .select("doc_id", "shingle").collect()
         .map(r => (r.getLong(0), r.getLong(1))).toSet,
       raw.filter(col("shingle").isNull)
         .select("doc_id").collect().map(_.getLong(0)).toSet)
    }
    def seq(p: Paths, failAt4: Option[FailPoint]): Unit = {
      (1 to 3).foreach(d => runTick(spark, landing, delta(d), p,
        ts(f"2025-04-0$d%d 00:00:00"), maxChain = 1))
      failAt4 match {
        case Some(fp) =>
          intercept[InjectedCrash] {
            runTick(spark, landing, docs.limit(0), p,
              ts("2025-04-04 00:00:00"), maxChain = 1,
              docRemovals = Some(removed), failAt = Some(fp))
          }
          // the marker never landed; the re-run must converge even
          // though tombstones, pair rebuild and store consolidation
          // may each have partially or fully happened
          assert(committedTick(spark, p)._1 == 3L)
          runTick(spark, landing, docs.limit(0), p,
            ts("2025-04-04 00:05:00"), maxChain = 1,
            docRemovals = Some(removed))
        case None =>
          runTick(spark, landing, docs.limit(0), p,
            ts("2025-04-04 00:00:00"), maxChain = 1,
            docRemovals = Some(removed))
      }
    }
    val ref = Paths(work())
    seq(ref, None)
    val refPairs = pairSet(ref)
    val refStore = rawStore(ref)
    assert(refStore._1.nonEmpty && refStore._2.nonEmpty && refPairs.nonEmpty)
    for (fp <- Seq(AfterDedup, AfterCompact)) {
      val p = Paths(work())
      seq(p, Some(fp))
      assert(pairSet(p) == refPairs, s"pairs diverged after crash $fp")
      assert(rawStore(p) == refStore, s"store diverged after crash $fp")
      assert(committedTick(spark, p)._1 == 4L)
    }
  }

  test("vec removals in the loop: tombstoned, hidden at probe, dropped physically, vecs store consolidated") {
    import graft.operators.AnnIndex
    val p = DailyLoop.Paths(work())
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val dead = e.filter(col("vec_id") % 10 === 0).select("vec_id")
    val emptyDocs = docs.limit(0)
    (1 to 3).foreach { d =>
      DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
        ts(f"2025-04-0$d%d 00:00:00"),
        embDelta = Some(e.filter(col("vec_id") % 3 === lit(d - 1))),
        annMaxChain = 1,
        vecRemovals = if (d == 3) Some(dead) else None)
    }
    val m = AnnIndex.pqParams(spark, p.ann).m
    val liveN = e.join(dead, Seq("vec_id"), "left_anti").count()
    // the live fold excludes every dead id — PQ codes and postings
    assert(AnnIndex.pqCodes(spark, p.ann).count() == liveN * m)
    assert(AnnIndex.ivfpPostings(spark, p.annPost).count() == liveN)
    // tick 3 compacted (annMaxChain=1): the dead ids are PHYSICALLY
    // out of the head version's parquet, not just folded away
    def headDir(root: String) = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("v-")).map(_.getName).max
    assert(spark.read.parquet(s"${p.ann}/${headDir(p.ann)}/codes")
      .join(dead.withColumnRenamed("vec_id", "id"), Seq("id")).count() == 0)
    // the vector store hides them too (LWW over the tombstones). The
    // delete is still IN-FLIGHT at tick 3, so consolidation — which
    // covers committed data only, keeping every uncommitted row
    // sweepable — must NOT yet have baked it in: the tombstones ride
    // in tick 3's own batch partition and the committed prefix still
    // physically holds the dead rows it committed
    assert(DailyLoop.vecStore(p.vecs).live(spark, 3).count() == liveN)
    val rawVecs = DailyLoop.vecStore(p.vecs).raw(spark)
    assert(rawVecs.filter(col("batch") === 3 && col("embedding").isNull)
      .count() == dead.count())
    assert(rawVecs.filter(col("batch") < 3)
      .join(dead, Seq("vec_id"), "left_semi").count() > 0,
      "an uncommitted delete must not be physical in committed data")
    // a removed id re-lands in a later tick: live again everywhere —
    // and THAT tick's consolidation (annMaxChain=1 again) makes tick
    // 3's now-committed tombstones physical
    DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
      ts("2025-04-04 00:00:00"),
      embDelta = Some(e.join(dead, Seq("vec_id"), "left_semi")),
      annMaxChain = 1)
    assert(AnnIndex.pqCodes(spark, p.ann).count() == e.count() * m)
    assert(AnnIndex.ivfpPostings(spark, p.annPost).count() == e.count())
    assert(DailyLoop.vecStore(p.vecs).live(spark, 4).count() == e.count())
    assert(DailyLoop.vecStore(p.vecs).raw(spark)
      .filter(col("batch") <= 3).join(dead, Seq("vec_id"), "left_semi")
      .count() == 0, "committed tombstones must be physical after the next consolidation")
  }

  test("annRefreshEvery: the refresh tick retrains from the vector store and collapses the chain") {
    import graft.operators.AnnIndex
    val p = DailyLoop.Paths(work())
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def emb(d: Int) = e.select("vec_id", "embedding")
      .filter(col("vec_id") % 3 === lit(d - 1))
    val emptyDocs = docs.limit(0)
    def tick(d: Int): Unit =
      DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
        ts(f"2025-04-0$d%d 00:00:00"), embDelta = Some(emb(d)),
        annRefreshEvery = 2)
    def books() = AnnIndex.pqBooks(spark, p.ann).collect()
      .map(_.toString).sorted.toSeq
    tick(1) // day zero trains on third 0
    val b1 = books()
    tick(2) // REFRESH: retrain on thirds 0+1 from the vector store
    // a fresh ROOT, not an append: one-element chain, head batch 2
    assert(AnnIndex.pqChain(spark, p.ann).length == 1)
    assert(AnnIndex.headBatch(spark, p.ann).contains(2L))
    // and the quantizer genuinely changed — this is the deliberate
    // quality event, not an answer-invariant compaction
    assert(books() != b1)
    val m = AnnIndex.pqParams(spark, p.ann).m
    assert(AnnIndex.pqCodes(spark, p.ann).count()
      == e.filter(col("vec_id") % 3 =!= 2).count() * m)
    tick(3) // back to the O(delta) append, pinned to the refreshed books
    assert(AnnIndex.pqChain(spark, p.ann).length == 2)
    assert(AnnIndex.pqCodes(spark, p.ann).count() == e.count() * m)
  }

  test("a custom-built index refreshes under its OWN sidecar params — trainIters included") {
    import graft.operators.AnnIndex
    val p = DailyLoop.Paths(work())
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val emptyDocs = docs.limit(0)
    def emb(d: Int) = e.select("vec_id", "embedding")
      .filter(col("vec_id") % 4 === lit(d))
    // built OUTSIDE the loop with custom geometry AND training depth —
    // the sidecar must carry all four so loop-driven maintenance can
    // never silently degrade the index to the build defaults
    AnnIndex.buildPq(emb(0), p.ann, m = 2, subLen = 32, numCodes = 8,
      trainIters = 5)
    val custom = AnnIndex.PqParams(2, 32, 8, 5)
    assert(AnnIndex.pqParams(spark, p.ann) == custom)
    def tick(d: Int, maxChain: Int = Int.MaxValue): Unit =
      DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
        ts(f"2025-04-0$d%d 00:00:00"), embDelta = Some(emb(d)),
        annRefreshEvery = 2, annMaxChain = maxChain)
    tick(1) // O(delta) append: the delta sidecar propagates ti
    assert(AnnIndex.pqParams(spark, p.ann) == custom)
    tick(2) // REFRESH: retrain from the store at the SIDECAR's depth
    assert(AnnIndex.pqChain(spark, p.ann).length == 1)
    assert(AnnIndex.headBatch(spark, p.ann).contains(2L))
    assert(AnnIndex.pqParams(spark, p.ann) == custom,
      "a refresh must retrain under the committed params, trainIters included")
    tick(3, maxChain = 1) // append then COMPACT: ti survives compaction too
    assert(AnnIndex.pqChain(spark, p.ann).length == 1)
    assert(AnnIndex.pqParams(spark, p.ann) == custom)
    // and the codes are the custom-m encoding of the STORE's live
    // corpus (slices 1–3; the outside-built slice 0 never landed in the
    // vector store, so the refresh — whose rebuild source IS the store,
    // by the vecStore live-read contract — legitimately drops it)
    assert(AnnIndex.pqCodes(spark, p.ann).count()
      == e.filter(col("vec_id") % 4 >= 1).count() * 2)
  }

  test("a doc deleted in an earlier tick that RE-LANDS recovers its pairs the same tick") {
    import spark.implicits._
    import graft.streaming.DocsStream
    val p = DailyLoop.Paths(work())
    val textA = "the quick brown fox jumps over the lazy dog again and again today"
    def live(upTo: Long) = DocsStream.livePairs(spark, p.pairs, p.store, upTo)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // tick 1: identical docs 1 and 2 pair up
    DailyLoop.runTick(spark, CvePipeline.Landing(),
      Seq((1L, textA), (2L, textA)).toDF("doc_id", "text"), p,
      ts("2025-04-01 00:00:00"))
    assert(live(1) == Set((1L, 2L)))
    // tick 2 deletes doc 2 — the pair vanishes from the live view
    DailyLoop.runTick(spark, CvePipeline.Landing(),
      Seq.empty[(Long, String)].toDF("doc_id", "text"), p,
      ts("2025-04-02 00:00:00"), docRemovals = Some(Seq(2L).toDF("doc_id")))
    assert(live(2).isEmpty)
    // tick 3 RE-LANDS doc 2 while its tombstone is still in the store
    // (no compaction, no pair rebuild configured — the defaults). The
    // dead-on-arrival pre-prune must NOT treat the re-landing doc as
    // deleted: its pairs have to come back THIS tick, not at a pair
    // rebuild that may never run.
    DailyLoop.runTick(spark, CvePipeline.Landing(),
      Seq((2L, textA)).toDF("doc_id", "text"), p,
      ts("2025-04-03 00:00:00"))
    assert(live(3) == Set((1L, 2L)),
      "re-landed doc's pairs must be rediscovered the same tick")
    // the re-landing superseded the tombstone: nothing reads as deleted
    assert(DocsStream.shingleStore(p.store).deleted(spark, 3).count() == 0)
  }

  test("a removal-only embedding tick (vec_removals, NO delta) completes and the loop stays live") {
    import graft.operators.AnnIndex
    val p = DailyLoop.Paths(work())
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def emb(d: Int) = e.filter(col("vec_id") % 3 === lit(d - 1))
    val dead = e.filter(col("vec_id") % 30 === 0).select("vec_id") // ⊂ third 0
    val emptyDocs = docs.limit(0)
    // tick 1 lands third 0 WITH labels: PQ index + posting store live
    DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
      ts("2025-04-01 00:00:00"), embDelta = Some(emb(1)), annMaxChain = 1)
    // tick 2 is a REMOVAL-ONLY tick: vec_removals landed, embeddings
    // did not (DailyLoop synthesizes the empty delta). Both chains gain
    // a tombs-only layer with NO data dataset — the append, the bloom
    // sidecar, the fold read-back and the annMaxChain=1 compaction must
    // all survive it (a zero-row dynamic write used to leave a
    // _SUCCESS-only directory that wedged every later read of the
    // layer, permanently crashing the re-run loop).
    DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
      ts("2025-04-02 00:00:00"), embDelta = None,
      vecRemovals = Some(dead), annMaxChain = 1)
    assert(DailyLoop.committedTick(spark, p)._1 == 2L)
    val m = AnnIndex.pqParams(spark, p.ann).m
    val liveN = emb(1).join(dead, Seq("vec_id"), "left_anti").count()
    assert(AnnIndex.pqCodes(spark, p.ann).count() == liveN * m)
    assert(AnnIndex.ivfpPostings(spark, p.annPost).count() == liveN)
    assert(AnnIndex.pqCodes(spark, p.ann)
      .join(dead.withColumnRenamed("vec_id", "id"), Seq("id")).count() == 0)
    // the loop is not wedged: tick 3 appends a normal delta on top
    DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
      ts("2025-04-03 00:00:00"), embDelta = Some(emb(2)), annMaxChain = 1)
    assert(AnnIndex.pqCodes(spark, p.ann).count()
      == (liveN + emb(2).count()) * m)
    assert(AnnIndex.ivfpPostings(spark, p.annPost).count()
      == liveN + emb(2).count())
  }

  test("consolidation OFF: deletedDocs stays exact across many tombstone ticks") {
    import spark.implicits._
    import graft.streaming.DocsStream
    // the documented contract: with no consolidation cadence at all
    // (maxChain = ∞, pairRebuildEvery = 0) the null scan pays an
    // O(ticks) listing but the DELETE SET stays exact — tombstones
    // accumulate, re-lands supersede, nothing is ever resurrected
    val p = DailyLoop.Paths(work())
    val textA = "the quick brown fox jumps over the lazy dog again and again today"
    val textB = "pack my box with five dozen liquor jugs said the sphinx of quartz"
    def tick(seq: Int, delta: org.apache.spark.sql.DataFrame,
             rem: Option[org.apache.spark.sql.DataFrame] = None): Unit =
      DailyLoop.runTick(spark, CvePipeline.Landing(), delta, p,
        ts(f"2025-04-0$seq%d 00:00:00"), docRemovals = rem)
    def deleted(upTo: Long) = DocsStream.shingleStore(p.store).deleted(spark, upTo)
      .collect().map(_.getLong(0)).toSet
    tick(1, Seq((1L, textA), (2L, textA), (3L, textB)).toDF("doc_id", "text"))
    tick(2, Seq.empty[(Long, String)].toDF("doc_id", "text"),
      rem = Some(Seq(1L).toDF("doc_id")))
    tick(3, Seq.empty[(Long, String)].toDF("doc_id", "text"))
    tick(4, Seq.empty[(Long, String)].toDF("doc_id", "text"),
      rem = Some(Seq(3L).toDF("doc_id")))
    tick(5, Seq((1L, textA)).toDF("doc_id", "text")) // re-land supersedes
    assert(deleted(5) == Set(3L))
    // the store still holds one batch partition per tick (nothing
    // consolidated — the listing the cadence contract bounds)
    val batches = DocsStream.shingleStore(p.store).raw(spark).select("batch").distinct().count()
    assert(batches >= 4, s"expected per-tick partitions, got $batches")
    // and the live view agrees: docs 1+2 pair back up, doc 3 is gone
    assert(DocsStream.livePairs(spark, p.pairs, p.store, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("racing one stale lease: exactly one of two contenders acquires") {
    val p = DailyLoop.Paths(work())
    // plant an ABANDONED lease (stale heartbeat)
    DailyLoop.acquireLease(spark, p, "crashed-writer")
    val f = new org.apache.hadoop.fs.Path(p.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.setTimes(new org.apache.hadoop.fs.Path(p.root, "lease"),
      System.currentTimeMillis() - 600000L, -1)
    val start = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val threads = (1 to 2).map { i =>
      val t = new Thread(() => {
        start.await()
        try {
          DailyLoop.acquireLease(spark, p, s"contender-$i", staleMs = 60000L)
          outcomes.put(s"contender-$i", "acquired")
        } catch {
          case e: IllegalStateException => outcomes.put(s"contender-$i", e.getMessage)
        }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(30000L))
    val winners = outcomes.entrySet().toArray.toSeq
      .map(_.asInstanceOf[java.util.Map.Entry[String, String]])
      .filter(_.getValue == "acquired").map(_.getKey)
    assert(winners.size == 1,
      s"exactly one contender must win a stale-lease race, got $outcomes")
    // the surviving lease belongs to the winner (no delete-then-create
    // window where the loser erases the winner's fresh lease)
    val in = f.open(new org.apache.hadoop.fs.Path(p.root, "lease"))
    val holder = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    assert(holder == winners.head)
    DailyLoop.releaseLease(spark, p)
  }

  test("breaker mutex: a live mid-break contender blocks the break; a stranded one is swept") {
    val p = DailyLoop.Paths(work())
    val f = new org.apache.hadoop.fs.Path(p.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ageLease(ms: Long): Unit =
      f.setTimes(new org.apache.hadoop.fs.Path(p.root, "lease"),
        System.currentTimeMillis() - ms, -1)
    // a stale lease whose break is ALREADY claimed by another (live)
    // contender: this contender must lose the race loudly — and must
    // NOT delete the stale lease out from under the mutex holder
    DailyLoop.acquireLease(spark, p, "crashed-writer")
    ageLease(600000L)
    val bp = new org.apache.hadoop.fs.Path(p.root, "lease.breaker")
    f.create(bp, false).close() // simulate a contender mid-break
    val err = intercept[IllegalStateException] {
      DailyLoop.acquireLease(spark, p, "contender", staleMs = 60000L)
    }
    assert(err.getMessage.contains("lost the lease race"), err.getMessage)
    assert(f.exists(new org.apache.hadoop.fs.Path(p.root, "lease")),
      "a blocked breaker must not touch the stale lease")
    // the mutex holder CRASHED: once the breaker itself is stale the
    // next acquirer sweeps it and reclaims the root
    f.setTimes(bp, System.currentTimeMillis() - 600000L, -1)
    DailyLoop.acquireLease(spark, p, "contender", staleMs = 60000L)
    val in = f.open(new org.apache.hadoop.fs.Path(p.root, "lease"))
    val holder = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    assert(holder == "contender")
    assert(!f.exists(bp), "the break must release the mutex")
    DailyLoop.releaseLease(spark, p)
  }

  test("lease stress: N contenders racing a stale lease + stranded breaker — one winner per round, fresh leases never deleted") {
    // the multi-contender closure of the two races above, repeated: every
    // round plants BOTH hazards at once (an abandoned stale lease AND a
    // breaker stranded by a crashed contender) and races N threads
    // through the full acquire protocol. Exactly one acquirer may ever
    // hold; the surviving lease must carry the winner's id after every
    // loser has finished (no interleave where a loser's sweep or break
    // lands on the winner's FRESH lease); the stranded mutex must be
    // gone. Turns the scaladoc's prose bound on the sweep residue into
    // a tested one.
    val p = DailyLoop.Paths(work())
    val f = new org.apache.hadoop.fs.Path(p.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lp = new org.apache.hadoop.fs.Path(p.root, "lease")
    val bp = new org.apache.hadoop.fs.Path(p.root, "lease.breaker")
    def readHolder(): String = {
      val in = f.open(lp)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    (1 to 5).foreach { round =>
      DailyLoop.acquireLease(spark, p, s"crashed-writer-$round")
      f.setTimes(lp, System.currentTimeMillis() - 600000L, -1)
      // a breaker a contender crashed holding, already stale
      val out = f.create(bp, true)
      try out.write(s"crashed-breaker-$round".getBytes("UTF-8"))
      finally out.close()
      f.setTimes(bp, System.currentTimeMillis() - 600000L, -1)
      val start = new java.util.concurrent.CountDownLatch(1)
      val outcomes = new java.util.concurrent.ConcurrentHashMap[String, String]()
      val threads = (1 to 6).map { i =>
        val t = new Thread(() => {
          start.await()
          try {
            DailyLoop.acquireLease(spark, p, s"r$round-c$i", staleMs = 60000L)
            outcomes.put(s"r$round-c$i", "acquired")
          } catch {
            case e: Exception => outcomes.put(s"r$round-c$i",
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join(30000L))
      assert(threads.forall(!_.isAlive), s"round $round: a contender hung")
      val winners = outcomes.entrySet().toArray.toSeq
        .map(_.asInstanceOf[java.util.Map.Entry[String, String]])
        .filter(_.getValue == "acquired").map(_.getKey)
      assert(winners.size == 1,
        s"round $round: exactly one contender must hold, got $outcomes")
      // after ALL contenders finished: the winner's fresh lease survived
      // every loser's sweep/break path intact
      assert(readHolder() == winners.head,
        s"round $round: surviving lease must be the winner's")
      assert(!f.exists(bp),
        s"round $round: the stranded breaker must be swept, not leaked")
      // and the winner's lease is genuinely FRESH (a later contender in
      // the same round must refuse it as live)
      val live = intercept[IllegalStateException] {
        DailyLoop.acquireLease(spark, p, "latecomer", staleMs = 60000L)
      }
      assert(live.getMessage.contains("is leased by"), live.getMessage)
      DailyLoop.releaseLease(spark, p)
    }
  }

  test("heartbeat ownership is decided on ONE clean read: missing or usurped lease is fatal immediately") {
    val p = DailyLoop.Paths(work())
    // nothing in the acquire protocol deletes or renames a FRESH lease,
    // so the heartbeat needs no re-read-and-sleep grace: a clean read
    // that does not show this holder IS a loss (a transient IO error,
    // by contrast, propagates for the heartbeat thread's 3-strike
    // policy — not reproducible against a healthy local FS)
    DailyLoop.acquireLease(spark, p, "usurper")
    val lost = intercept[IllegalStateException] {
      DailyLoop.heartbeatLease(spark, p, Some("previous-writer"))
    }
    assert(lost.getMessage.contains("lease lost to 'usurper'"), lost.getMessage)
    DailyLoop.releaseLease(spark, p)
    val gone = intercept[IllegalStateException] {
      DailyLoop.heartbeatLease(spark, p, Some("previous-writer"))
    }
    assert(gone.getMessage.contains("lease lost to '<missing>'"), gone.getMessage)
  }

  test("releaseLease deletes only its own lease — a lost writer cannot erase the usurper's") {
    val p = DailyLoop.Paths(work())
    DailyLoop.acquireLease(spark, p, "usurper")
    // a writer exiting BECAUSE it lost its lease must not take the new
    // holder's lease down with it (compare-then-delete)
    DailyLoop.releaseLease(spark, p, Some("previous-writer"))
    val err = intercept[IllegalStateException] {
      DailyLoop.acquireLease(spark, p, "third-writer")
    }
    assert(err.getMessage.contains("leased by 'usurper'"))
    // the rightful holder's release does delete
    DailyLoop.releaseLease(spark, p, Some("usurper"))
    DailyLoop.acquireLease(spark, p, "third-writer")
    DailyLoop.releaseLease(spark, p)
  }

  test("a tick longer than the stale window keeps its lease via the background heartbeat") {
    val p = DailyLoop.Paths(work())
    val holder = "long-tick-writer"
    DailyLoop.acquireLease(spark, p, holder, staleMs = 400L)
    val hb = new DailyLoop.LeaseHeartbeat(spark, p, holder, 400L)
    try {
      Thread.sleep(1200L) // 3× the stale window — a tick still running
      val err = intercept[IllegalStateException] {
        DailyLoop.acquireLease(spark, p, "contender", staleMs = 400L)
      }
      assert(err.getMessage.contains("leased by"),
        s"live holder's heartbeat must block contenders: ${err.getMessage}")
      hb.check() // and the holder never observed a lost lease
    } finally { hb.close(); DailyLoop.releaseLease(spark, p) }
  }

  test("a crashed tick re-run with a DIFFERENT delta leaves no ghost rows or ghost deletes") {
    import DailyLoop._
    import graft.streaming.DocsStream
    // The crash model's input contract is delta-as-function-of-seq
    // (--fetch enforces it with the landing marker). This spec pins the
    // FALLBACK when it is violated: the swept stores never carry the
    // crashed attempt's rows — or its deletes — as committed-looking
    // data, and the re-run's own compaction heals the derived pair
    // snapshot and index in the same pass.
    val deltaA = docs.filter(col("doc_id") % 3 === 1) // crashed attempt's delta
    val deltaB = docs.filter(col("doc_id") % 3 === 2) // re-run's delta
    val removedX = delta(1).select("doc_id").limit(1) // ghost-delete target
    // the vector store takes the same path: one embedding delta per
    // tick, consolidated every tick (annMaxChain = 1), and one vec
    // removal in the crashed attempt
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def emb(k: Int) = Some(e.filter(col("vec_id") % 3 === k))
    val removedV = e.filter(col("vec_id") % 3 === 0).select("vec_id")
      .orderBy("vec_id").limit(1) // a tick-1 vec
    def docSet(p: Paths) = DocsStream.shingleStore(p.store).live(spark, 2)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    def vecSet(p: Paths) = vecStore(p.vecs).live(spark, 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // reference: tick 2 runs deltaB with no removals, crash-free
    val ref = Paths(work())
    runTick(spark, landing, delta(1), ref, ts("2025-04-01 00:00:00"), maxChain = 1,
      embDelta = emb(0), annMaxChain = 1)
    runTick(spark, landing, deltaB, ref, ts("2025-04-02 00:00:00"), maxChain = 1,
      embDelta = emb(2), annMaxChain = 1)
    // crash run: tick 2 first attempts (deltaA + removal), dies after
    // compaction — consolidation has already swapped the store
    val p = Paths(work())
    runTick(spark, landing, delta(1), p, ts("2025-04-01 00:00:00"), maxChain = 1,
      embDelta = emb(0), annMaxChain = 1)
    intercept[InjectedCrash] {
      runTick(spark, landing, deltaA, p, ts("2025-04-02 00:00:00"),
        maxChain = 1, docRemovals = Some(removedX),
        embDelta = emb(1), annMaxChain = 1, vecRemovals = Some(removedV),
        failAt = Some(AfterCompact))
    }
    runTick(spark, landing, deltaB, p, ts("2025-04-02 00:05:00"), maxChain = 1,
      embDelta = emb(2), annMaxChain = 1)
    // the vector store converged the same way (the ANN chains keep the
    // crashed batch through their batch-stamp skip: that is the
    // documented radius of a contract violation, not asserted here)
    assert(vecSet(p) == vecSet(ref))
    assert(removedV.join(vecStore(p.vecs).live(spark, 2), Seq("vec_id"),
      "left_semi").count() == 1,
      "the crashed attempt's vec delete must not survive its failed tick")
    // stores converged: deltaA's rows swept, the uncommitted delete of
    // X never stuck, nothing reads as deleted
    assert(docSet(p) == docSet(ref))
    assert(DocsStream.shingleStore(p.store).deleted(spark, 2).count() == 0)
    assert(removedX.join(DocsStream.shingleStore(p.store).live(spark, 2),
      Seq("doc_id"), "left_semi").count() == 1,
      "the crashed attempt's delete must not survive its failed tick")
    // and the re-run's own rebuild expired the ghost pairs
    assert(pairSet(p) == pairSet(ref))
  }

  test("a refresh-cadence hit fires on a tick that lands NO vectors (retrains from the store)") {
    import graft.operators.AnnIndex
    val p = DailyLoop.Paths(work())
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val emptyDocs = docs.limit(0)
    def tick(d: Int, emb: Option[org.apache.spark.sql.DataFrame]): Unit =
      DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
        ts(f"2025-04-0$d%d 00:00:00"), embDelta = emb, annRefreshEvery = 2)
    tick(1, Some(e.filter(col("vec_id") % 3 === 0))) // day zero, labeled
    val b1 = AnnIndex.pqBooks(spark, p.ann).collect().map(_.toString).sorted.toSeq
    // tick 2 hits the cadence with NOTHING landed: the retrain reads
    // the STORE, so it must fire anyway — an exact batch-key match
    // skipped here would defer the quality event a whole period
    tick(2, None)
    assert(AnnIndex.headBatch(spark, p.ann).contains(2L),
      "a vector-less refresh tick must still retrain")
    assert(AnnIndex.pqChain(spark, p.ann).length == 1)
    assert(AnnIndex.headBatch(spark, p.annPost).contains(2L))
    // same corpus, fresh Lloyd seed order can differ — the event ran;
    // the chain collapse and head stamp above are the real assertions
    val m = AnnIndex.pqParams(spark, p.ann).m
    assert(AnnIndex.pqCodes(spark, p.ann).count()
      == e.filter(col("vec_id") % 3 === 0).count() * m)
    // and a later delta still appends against the refreshed root
    tick(3, Some(e.filter(col("vec_id") % 3 === 1)
      .select("vec_id", "embedding")))
    assert(AnnIndex.pqCodes(spark, p.ann).count()
      == e.filter(col("vec_id") % 3 =!= 2).count() * m)
    assert(b1.nonEmpty) // silence unused warning; b1 pins tick-1 ran
  }

  test("posting store seeded at tick N>1 covers label-less earlier ticks' vectors") {
    import graft.operators.{AnnIndex, Similarity}
    val p = DailyLoop.Paths(work())
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def emb(d: Int) = e.filter(col("vec_id") % 3 === lit(d - 1))
    val emptyDocs = docs.limit(0)
    // ticks 1–2 land LABEL-LESS deltas: PQ index lives, posting store
    // does not exist yet
    (1 to 2).foreach { d =>
      DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
        ts(f"2025-04-0$d%d 00:00:00"),
        embDelta = Some(emb(d).select("vec_id", "embedding")))
    }
    assert(!AnnIndex.isBuilt(spark, p.annPost))
    // tick 3's delta carries labels and SEEDS the store — which must
    // cover the WHOLE corpus (ticks 1–3), not just the seeding delta:
    // a delta-only seed would silently serve incomplete candidates
    // forever while pqTopK served everything
    DailyLoop.runTick(spark, CvePipeline.Landing(), emptyDocs, p,
      ts("2025-04-03 00:00:00"), embDelta = Some(emb(3)))
    assert(AnnIndex.ivfpPostings(spark, p.annPost).count() == e.count())
    // and the probe equals the no-loop truth: centroids trained on the
    // labeled (tick-3) rows, the full corpus assigned against them
    val q = e.filter(col("vec_id") % 100 === 0)
    val seedUnits = Similarity.unitVectors(emb(3),
      Seq("vec_id" -> "id", "label" -> "cell"))
    val cents = Similarity.kmeansRefineExact(
      seedUnits, Similarity.exactCentroids(seedUnits), 1)
    val corpusAssigned = e.drop("label")
      .join(Similarity.assignCells(
          Similarity.unitVectors(e, Seq("vec_id" -> "id")), cents)
        .select(col("id").as("vec_id"), col("assigned_cell").as("label")),
        "vec_id")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(AnnIndex.postingsTopK(spark, p.annPost, q, k = 3, nprobe = 2))
      == rows(Similarity.cellTopKMultiProbe(corpusAssigned, q, cents,
                k = 3, nprobe = 2)))
  }

  test("Par: all failures preserved — first thrown, rest suppressed") {
    val e = intercept[RuntimeException] {
      Par(
        () => throw new RuntimeException("side A"),
        () => { Thread.sleep(50); throw new IllegalStateException("side B") })
    }
    val all = (e.getMessage +: e.getSuppressed.toSeq.map(_.getMessage)).toSet
    assert(all == Set("side A", "side B"))
  }
}
