package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned on-disk ANN build artifacts — PQ codebooks + the encoded
  * corpus, and IVF (Lloyd-refined) centroids — published with the
  * [[VersionedChain]] protocol BandIndex also uses: data lands under a
  * claimed `v-NNNNN` directory, the sidecar commits LAST via an atomic
  * same-directory rename, and readers pin the newest COMMITTED version.
  * A crashed build leaves an uncommitted directory that is invisible to
  * readers and swept by the next successful publish.
  *
  * Both chains — PQ (root `books`, layer `codes`) and IVF postings
  * (root `centroids`, layer `postings`) — share one lifecycle: every
  * base version is one [[VersionedChain.publish]], [[appendLayer]] is
  * the one guarded layer append and [[compactLayers]] the one chain
  * compaction. Each public operation keeps only its chain-kind check,
  * payload writer and sidecar text.
  *
  * Why this exists: at 100 TB a quantizer is a BUILD artifact refreshed
  * on the corpus-publish cadence (nightly, with the band index), not
  * per-query work. q61/q86 retrain codebooks/centroids inside each query
  * because their job is to oracle-gate the CONSTRUCTION end-to-end; the
  * production probe path (q120/q121) reads these tables and does zero
  * training — the ANN analog of q106's disk band index vs q32's
  * in-memory banding. Training is deterministic (Similarity.pqTrain /
  * kmeansRefineExact) and doubles round-trip parquet exactly, so a probe
  * of the persisted artifacts is bit-identical to the in-session build —
  * which is exactly what lets the persisted entries share their twins'
  * oracles.
  *
  * Single nightly writer by contract (the DailyLoop cadence); version
  * claims are atomic-create, so a misconfigured second builder burns a
  * version number instead of corrupting a published one.
  */
object AnnIndex {
  private val MetaFile = "_graft_ann"
  private val BloomFile = "idbloom"

  /** An ANN layer's sidecar names its parent right after its `*-delta`
    * tag (`pq-delta <parent> …`, `ivfp-delta <parent> …`). */
  private val store = new VersionedChain(MetaFile, parts =>
    if (parts(0).endsWith("-delta")) Some(parts(1).toInt) else None)

  /** The committed head's chain. Load it once per public operation and
    * thread it through: each load costs a listing plus one sidecar read
    * per layer, pure control plane. Loud when no version ever committed —
    * an unbuilt artifact store must never silently probe as empty. */
  private def loadChain(spark: SparkSession, path: String): ChainInfo = {
    val info = store.load(spark, path)
    require(info.nonEmpty,
      s"no committed ANN artifact version under $path — publish one with " +
        "AnnIndex.buildPq/buildIvf/buildIvfPostings")
    info.get
  }

  /** [[buildPq]]'s training-depth default — also what [[pqParams]]
    * reports for a sidecar written before the `ti=` token existed
    * (those indexes WERE trained at this default). */
  val DefaultTrainIters = 2

  /** The published PQ hyper-parameters; probes must use the SAME (m,
    * subLen) the codebooks were trained with, so they travel with the
    * artifact, never as caller-remembered constants. `trainIters` rides
    * along for the same reason in the other direction: it shapes no
    * probe, but a retraining REFRESH must retrain at the depth the
    * index was built with, not silently at the build default. */
  final case class PqParams(m: Int, subLen: Int, numCodes: Int,
                            trainIters: Int = DefaultTrainIters)

  /** Publish the layer's id-membership Bloom filter beside its data
    * (BEFORE the sidecar commit — a committed layer always has one).
    * This is what makes the append-disjointness contract SELF-ENFORCING
    * at O(delta): every append probes the delta's ids against the
    * chain's blooms (a map-only filter over the delta) and only a hit —
    * real or the filter's bounded false-positive — pays the exact id
    * scan. Geometry scales with the layer (~12 bits/key, clamped to
    * [2^20, 2^28] bits = 16 KiB–32 MiB): a layer past the cap saturates
    * and DEGRADES the guard to the exact scan, never to silence. Ids are
    * read back from the just-written parquet (one columnar id scan), not
    * recomputed from lineage. */
  private def writeIdBloom(spark: SparkSession, vd: Path,
                           ids: DataFrame, keys: Long): Unit = {
    // `ids` may carry duplicates (setting the same bits twice is a
    // no-op), so call sites skip the read-back distinct() shuffle and
    // size the filter from a count they already have, any count ≥ the
    // distinct ids (r21)
    val n = math.max(keys, 1L)
    val numBits = {
      val want = n * 12L
      val clamped = math.min(math.max(want, 1L << 20), 1L << 28)
      ((clamped + 63) / 64 * 64).toInt
    }
    val bits = Bloom.build(ids, "id", numBits, Bloom.DefaultHashes)
    val f = VersionedChain.fs(spark, vd.toString)
    val out = new java.io.DataOutputStream(f.create(new Path(vd, BloomFile), true))
    try {
      out.writeInt(numBits); out.writeInt(Bloom.DefaultHashes)
      bits.foreach(out.writeLong)
    } finally out.close()
  }

  /** A layer's bloom (bits, numBits, k) — None for layers published
    * before blooms existed, which forces the guard to the exact scan. */
  private def readIdBloom(spark: SparkSession, path: String,
                          v: Int): Option[(Array[Long], Int, Int)] = {
    val f = VersionedChain.fs(spark, path)
    val p = new Path(store.vdir(path, v), BloomFile)
    // open-with-catch: the read is its own existence probe (one FS
    // round-trip, VersionedChain's sidecar-read rule) — a bloom-less
    // legacy layer reads as None exactly as the exists() probe did
    val inOpt =
      try Some(new java.io.DataInputStream(f.open(p)))
      catch {
        case _: java.io.FileNotFoundException => None
        case _: java.nio.file.NoSuchFileException => None
      }
    inOpt.map { in =>
      try {
        val numBits = in.readInt(); val k = in.readInt()
        val bits = Array.fill(numBits / 64)(in.readLong())
        (bits, numBits, k)
      } finally in.close()
    }
  }

  /** The O(delta) disjointness guard of every append ([[appendLayer]]):
    * bloom-prefilter the delta's ids against every chain layer; only a
    * suspicious id (or a bloom-less legacy layer) runs the exact chain
    * id scan, and a REAL duplicate fails loudly.
    * A violated monotone-stream contract can therefore no longer
    * silently double ADC sums or posting candidates; the clean common
    * case stays one map-only pass over the delta.
    *
    * Returns (delta row count, suspicious): emptiness probe, bloom
    * suspicion and the bloom-sizing count used to be THREE separate
    * delta jobs per append — one aggregate pass now serves all of them
    * (r22; each extra action costs a full plan + job round-trip of
    * driver time, the lifecycle loops' dominant cost at sf0.1). The
    * bloom probes are off-plan (r22): the literal form inlined
    * numBits/64 longs PER LAYER into one filter expression — at chain
    * depth 8 that made Catalyst planning ~85 % of q137's wall. */
  private def guardStats(spark: SparkSession, path: String,
                         chain: Seq[Int], ids: DataFrame): (Long, Boolean) = {
    val blooms = chain.map(v => readIdBloom(spark, path, v))
    if (blooms.forall(_.isDefined)) {
      val hit = blooms.flatten.map { case (bits, nb, k) =>
        Bloom.mightContainOffPlan(bits, col("id"), nb, k)
      }.reduce(_ || _)
      val r = ids.agg(count(lit(1)), count(when(hit, lit(1)))).head()
      (r.getLong(0), r.getLong(1) > 0)
    } else { // legacy layer without a bloom: no prefilter available
      (ids.count(), true)
    }
  }

  private def batchSuffix(batchId: Option[Long]): String =
    batchId.map(b => s" batch=$b").getOrElse("")

  /** [[buildPq]]'s deterministic training-sample modulus: the sample
    * predicate is `mulHash(id) < ceil(cap * Denom / n)` over this
    * denominator, so the kept fraction is a rational with a fixed,
    * oracle-mirrorable denominator (no float thresholds that could
    * round differently between engines). */
  val SampleDenom: Long = 1L << 20

  /** Multiplicative hash for the training sample — Knuth's 2654435761
    * over the id's low 31 bits, XOR-folded with its own high bits
    * (`p XOR (p >> 31)`, the standard xorshift mix) before reducing mod
    * [[SampleDenom]]. The round-15 version took the product's LOW 20
    * bits alone, which for an odd multiplier are a bijection of
    * id mod 2^20 — id sets structured in the low bits (shard<<20
    * encodings, aligned strides) hashed all-or-nothing (round-15
    * verdict watch #2). High bits ALONE are no better: p >> 31 is
    * ≈ 1.236·id, a near-linear ramp that turns a dense small-id corpus
    * (every fixture, ids < ~848k) into a prefix sample. The XOR fold
    * keeps the low-bit scatter where it works and breaks the residue
    * classes where it didn't — measured uniform (std/range 0.289 ≈
    * uniform's 0.2887) on dense, mod-2^20-aliased, shard<<20 and
    * odd-stride-replicated id sets alike. Pure 64-bit integer
    * arithmetic with the product bounded below 2^63 ((2^31-1) *
    * 2654435761 < 2^62.4) and non-negative — shiftright == floor-div,
    * xor of non-negatives is non-negative — so it evaluates identically
    * in Spark (ANSI on or off) and in any engine mirroring the oracle
    * SQL (DuckDB: `xor(p, p // 2147483648) % 1048576`) — unlike
    * xxhash64, which only Spark computes. pmod keeps negative ids
    * well-defined. */
  private def sampleHash(id: org.apache.spark.sql.Column) = {
    val p = pmod(id, lit(2147483648L)) * lit(2654435761L)
    pmod(p.bitwiseXOR(shiftright(p, 31)), lit(SampleDenom))
  }

  /** Minimum training vectors per PQ code before the sample
    * under-determines the codebook: standard PQ practice wants 10²–10³
    * training points per centroid, and the r19 recall table measured
    * the cliff directly — at k=256 a 10k cap (39/code) cost recall@10
    * 0.139 → 0.052 while at the catalog k=16 (625/code) the same cap
    * was quality-neutral. Below this ratio [[buildPq]] warns loudly
    * when the cap actually binds. */
  val MinTrainPerCode: Long = 100L

  /** Sentinel for `trainSampleMax`: scale the cap WITH the codebook
    * size instead of a fixed count — [[scaledTrainCap]], the code-level
    * answer to the r19 finding that a fixed cap silently under-trains
    * at FAISS-depth k. */
  val AutoTrainSampleMax: Long = -1L

  /** The k-scaled training cap [[AutoTrainSampleMax]] resolves to:
    * numCodes × [[MinTrainPerCode]], floored at the long-standing 10k
    * (so catalog geometries keep their exact behavior — k ≤ 100 resolves
    * to the same 10k the r17/r18 rows measured). At m=8/k=256 this is
    * 25.6k vectors ≥ 100/code — measured within noise of full-corpus
    * training (see PLANS.md round-20 recall row) where the fixed 10k
    * cap had cost 2.7× recall. */
  def scaledTrainCap(numCodes: Int): Long =
    math.max(10000L, numCodes.toLong * MinTrainPerCode)

  /** True when an EXPLICIT cap supplies fewer than [[MinTrainPerCode]]
    * expected training vectors per code — the warn predicate, factored
    * for the spec to pin its boundary. */
  def underTrainedCap(cap: Long, numCodes: Int): Boolean =
    cap > 0L && cap < numCodes.toLong * MinTrainPerCode

  /** Train + encode + publish a PQ index version: codebooks (sub, code,
    * code_vec) and the encoded corpus (id, sub, code) — at scale the
    * m-small-ints-per-vector table that replaces the raw floats at query
    * time. Returns the committed version.
    *
    * `trainSampleMax` (0 = off, [[AutoTrainSampleMax]] = scale with
    * numCodes via [[scaledTrainCap]]) bounds the TRAINING relation: when the
    * corpus exceeds the cap, Lloyd training runs on a deterministic
    * hash-sampled subset of expected size ~cap ([[sampleHash]] <
    * ceil(cap*[[SampleDenom]]/n)) while the ENCODE still covers every
    * vector — the standard large-corpus PQ recipe (train on a bounded
    * uniform sample, encode the full corpus), and what turns the
    * refresh retrain from O(corpus) Lloyd passes into O(sample) train
    * + one O(corpus) encode pass. The sample is a function of the id
    * SET alone (no RNG, no partition order), so rebuilds are
    * reproducible and the oracle can restate the predicate in SQL.
    * The cap is an operational resource bound, not index geometry, so
    * it deliberately does NOT ride the `ti=` sidecar: each refresh
    * applies the cap its config supplies to the corpus it sees. */
  def buildPq(corpus: DataFrame, path: String, m: Int = 4, subLen: Int = 16,
              numCodes: Int = 16, trainIters: Int = DefaultTrainIters,
              idCol: String = "vec_id", vecCol: String = "embedding",
              batchId: Option[Long] = None,
              trainSampleMax: Long = 0L): Int = {
    val spark = corpus.sparkSession
    graft.JobLabel(spark, s"ann buildPq $path") {
    // units feed every train round AND the encode (no-subplan-CSE: pin
    // once) — spill-friendly persist, NOT a localCheckpoint: this is
    // the corpus-sized relation, and an executor-disk checkpoint copy
    // of it is exactly the O(corpus) duplication a 100 TB build can't
    // afford. books are tiny and pqTrain checkpoints them per round.
    val units = Similarity
      .unitVectors(Spread.ensureParallel(corpus), Seq(idCol -> "id"), vecCol, "unit")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the count rides the persist (columnar, one pass); keep ≥ Denom
      // whenever n ≤ cap makes the predicate vacuously true, so the
      // capped and uncapped paths share one semantics at every scale
      val cap =
        if (trainSampleMax == AutoTrainSampleMax) scaledTrainCap(numCodes)
        else trainSampleMax
      val trainUnits =
        if (cap > 0L) {
          val n = units.count()
          val keep =
            if (n == 0L) SampleDenom
            else (cap * SampleDenom + n - 1L) / n
          // loud under-training warning (r19 verdict task 1): fires only
          // when the sample genuinely binds (keep < Denom — a corpus the
          // cap doesn't reach trains full either way) AND the explicit
          // cap starves the codebook. AutoTrainSampleMax never trips it.
          if (keep < SampleDenom && underTrainedCap(cap, numCodes))
            System.err.println(
              s"[annindex] trainSampleMax=$cap supplies < $MinTrainPerCode " +
                s"training vectors per code at numCodes=$numCodes — the " +
                s"codebook will be under-determined (measured at k=256: " +
                s"recall@10 0.052 capped-10k vs 0.139 full-train). Pass " +
                s"trainSampleMax=AnnIndex.AutoTrainSampleMax to scale the " +
                s"cap with k (= ${scaledTrainCap(numCodes)} here)")
          if (keep >= SampleDenom) units
          else {
            val sampled = units.filter(sampleHash(col("id")) < lit(keep))
            // degenerate-sample guard: pqTrain seeds its init codes from
            // the first `numCodes` rows, so a sample an adversarial id
            // set hashed down to fewer rows than that would train a
            // garbage (or empty) codebook silently. Fall back to the
            // full corpus — correctness first, the cap is a resource
            // bound — and say so. The probe is limit(numCodes).count():
            // an early-exit scan, not a full count of the sample.
            if (sampled.limit(numCodes).count() < numCodes.toLong) {
              System.err.println(
                s"[annindex] trainSampleMax=$cap sample has " +
                  s"fewer than $numCodes rows (n=$n, keep=$keep/" +
                  s"$SampleDenom) — falling back to full-corpus training")
              units
            } else sampled
          }
        } else units
      val books = Similarity.pqTrain(trainUnits, m, subLen, numCodes, trainIters)
      store.publish(spark, path) { vd =>
        writeBase(spark, vd, "books", books, "codes",
          Similarity.pqEncode(units, books, m, subLen), m)(writeParquet)
        s"pq $m $subLen $numCodes ti=$trainIters${batchSuffix(batchId)}"
      }
    } finally { units.unpersist(); () }
    }
  }

  /** Ingest NEW vectors without touching the corpus: encode `delta`
    * against the chain root's PINNED codebooks and publish the codes as
    * a delta layer whose sidecar records its parent — FAISS `add()`
    * semantics, and the ANN analog of BandIndex.append's O(delta) tick.
    * At 100 TB this is the nightly ingest path: the corpus codes are
    * never rewritten and nothing retrains; a full [[buildPq]] on the
    * compaction cadence re-trains and collapses the chain (and prunes
    * superseded layers).
    *
    * Contract: `delta` ids must not be LIVE in the chain. A changed or
    * deleted vector goes through `removals` — the layer's TOMBSTONE
    * set, which deletes those ids from every layer below it
    * ([[foldLayers]]); a changed vector is therefore `removals` +
    * `delta` carrying the same id in ONE call (the LSM delete+put),
    * and a deleted id may be re-appended by any later layer.
    * [[appendLayer]] enforces the contract at O(delta): a clean append
    * pays one bloom probe of the delta's ids ([[guardStats]]), and only
    * a hit pays the exact id scan of the chain (columnar: the probe-side
    * cost class, not a raw-vector scan).
    * Returns the committed version. */
  def appendPq(delta: DataFrame, path: String,
               idCol: String = "vec_id", vecCol: String = "embedding",
               batchId: Option[Long] = None,
               removals: Option[DataFrame] = None): Int = {
    val spark = delta.sparkSession
    graft.JobLabel(spark, s"ann appendPq $path") {
    // ONE chain load serves params, parent, books, the guard and the
    // (lazy) liveness scan — the r22 control-plane rule
    val info = loadChain(spark, path)
    val p = pqParamsOf(info) // also proves a committed pq chain exists
    val books = rootData(spark, info, "books")
    val units = Similarity
      .unitVectors(Spread.ensureParallel(delta), Seq(idCol -> "id"), vecCol, "unit")
    appendLayer(spark, "appendPq", info, "codes", delta, idCol, removals,
      s"pq-delta ${info.head} ${p.m} ${p.subLen} ${p.numCodes} " +
        s"ti=${p.trainIters}${batchSuffix(batchId)}") {
      writeParquet(Similarity.pqEncode(units, books, p.m, p.subLen), _)
    }
    }
  }

  /** The one layer append behind [[appendPq]] and [[appendIvfPostings]]:
    * guard, claim, payload, tombs, bloom, commit (`meta` names the
    * parent). [[guardStats]]' one aggregate is the guard, the emptiness
    * probe and the bloom sizing count; only a bloom hit runs the exact
    * scan — the folded chain's ids minus this call's own tombstones (the
    * LSM delete+put re-adds them legally), joined to the delta as an
    * existence test. `write` lands the `name` payload (`codes` /
    * `postings`) only for a non-empty delta: a zero-row dynamic write
    * would leave a _SUCCESS-only directory that kills parquet schema
    * inference in every later fold. A removal-only layer is tombs plus
    * a bloom of the empty id set ([[layerData]] reads it as tombs-only).
    * No prune: ancestors stay live until the next base collapses the
    * chain. Returns the committed version. */
  private def appendLayer(spark: SparkSession, op: String, info: ChainInfo,
                          name: String, delta: DataFrame, idCol: String,
                          removals: Option[DataFrame], meta: String)
                         (write: Path => Unit): Int = {
    val path = info.path
    // raw ids, not the normalized unit vectors (r22)
    val deltaIds = delta.select(col(idCol).as("id"))
    val rem = removals.map(_.select(col(idCol).as("id")).distinct())
    val (deltaCount, suspicious) = guardStats(spark, path, info.chain, deltaIds)
    if (suspicious) {
      val live = foldLayers(spark, path, info.chain, name).select("id")
      val dups = rem.map(r => live.join(broadcast(r), Seq("id"), "left_anti"))
        .getOrElse(live).join(broadcast(deltaIds), "id").limit(1).count()
      require(dups == 0L,
        s"$op under $path: delta contains ids already in the chain (already " +
          "encoded in a live layer) — replace them via the removals tombstone set")
    }
    val next = store.claimVersion(spark, path)
    val vd = store.vdir(path, next)
    val data = new Path(vd, name)
    if (deltaCount > 0) write(data)
    rem.foreach(writeParquet(_, new Path(vd, "tombs")))
    // bloom from the read-back (one columnar id scan), sized from the
    // guard's delta count (≥ distinct ids — oversizing only lowers the
    // false-positive rate) instead of a second count job (r22)
    writeIdBloom(spark, vd,
      if (deltaCount > 0) spark.read.parquet(data.toString).select("id") else deltaIds,
      deltaCount)
    store.commit(spark, path, next, meta)
    next
  }

  /** Collapse the layer chain WITHOUT retraining: the root's books and
    * the union of every layer's codes republished as one base version.
    * Answer-invariant by construction (probes see the identical books ×
    * codes relation), which is what lets the daily loop compact on
    * cadence under the same truth — unlike a [[buildPq]] refresh, whose
    * retrained books legitimately CHANGE rankings and is therefore a
    * quality event the operator schedules deliberately. Cost is
    * O(corpus) over the m-small-ints codes representation (the LSM
    * compaction cost class, never the raw floats). Carries the head's
    * batch stamp forward so a tick that compacts stays idempotent
    * under crash re-run. Returns the committed version. */
  def compactPq(spark: SparkSession, path: String): Int =
    graft.JobLabel(spark, s"ann compactPq $path") {
    val info = loadChain(spark, path)
    val p = pqParamsOf(info)
    compactLayers(spark, info, "books", "codes", p.m,
      s"pq ${p.m} ${p.subLen} ${p.numCodes} ti=${p.trainIters}")(writeParquet)
    }

  /** The one chain compaction behind [[compactPq]] and
    * [[compactIvfPostings]]: a new base holding the chain root's
    * quantizer `root` (`books` / `centroids`) as-is and the folded
    * `name` data (`codes` / `postings`) through the kind's `write`, its
    * bloom sized from the read-back's count / `rowsPerId` ([[writeBase]]).
    * The sidecar is `meta` plus the HEAD's batch stamp, so a tick that
    * compacts stays idempotent under crash re-run. Plain reads, no
    * pinning: the source versions stay on disk (prune keeps the old
    * head's chain), and each relation is consumed by exactly one write —
    * a checkpoint here would be an O(corpus) copy. */
  private def compactLayers(spark: SparkSession, info: ChainInfo, root: String,
                            name: String, rowsPerId: Int, meta: String)
                           (write: (DataFrame, Path) => Unit): Int = {
    val batch = splitBatch(info.headMeta.split(" "))._2
    store.publish(spark, info.path) { vd =>
      writeBase(spark, vd, root, rootData(spark, info, root), name,
        foldLayers(spark, info.path, info.chain, name), rowsPerId)(write)
      meta + batchSuffix(batch)
    }
  }

  /** A base version's datasets in `vd`: the quantizer under `root`, the
    * id-keyed `data` under `name` through `write`, and the data's id
    * bloom from the read-back, sized row count / `rowsPerId` (m rows per
    * id for PQ codes by the pqEncode contract, one for postings). */
  private def writeBase(spark: SparkSession, vd: Path, root: String,
                        quantizer: DataFrame, name: String, data: DataFrame,
                        rowsPerId: Int)(write: (DataFrame, Path) => Unit): Unit = {
    writeParquet(quantizer, new Path(vd, root))
    write(data, new Path(vd, name))
    val back = spark.read.parquet(new Path(vd, name).toString)
    writeIdBloom(spark, vd, back.select("id"), back.count() / rowsPerId)
  }

  private def writeParquet(df: DataFrame, dir: Path): Unit =
    df.write.mode("overwrite").parquet(dir.toString)

  /** Train + publish an IVF centroid table (cell, centroid) from the
    * label-seeded exact Lloyd refinement (the q87 construction). */
  def buildIvf(corpus: DataFrame, path: String, refineIters: Int = 1,
               idCol: String = "vec_id", vecCol: String = "embedding",
               cellCol: String = "label"): Int = {
    val spark = corpus.sparkSession
    val units = Similarity.unitVectors(
      Spread.ensureParallel(corpus), Seq(idCol -> "id", cellCol -> "cell"), vecCol)
    val cents = Similarity.kmeansRefineExact(
      units, Similarity.exactCentroids(units), refineIters)
    store.publish(spark, path) { vd =>
      writeParquet(cents, new Path(vd, "centroids"))
      s"ivf $refineIters"
    }
  }

  /** A sidecar's trailing `key=value` tokens — `batch=<id>` (the
    * daily-loop tick that published the version; the tick's crash
    * re-run keys its skip-if-done decision on it, see [[headBatch]])
    * and `ti=<n>` (the PQ training depth, absent in pre-`ti` sidecars).
    * Positional tokens keep their order; keyed tokens are
    * position-independent, which is what keeps old and new sidecars
    * mutually readable. */
  private def splitKeyed(parts: Array[String]): (Array[String], Map[String, String]) = {
    val (pos, keyed) = parts.partition(!_.contains("="))
    (pos, keyed.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    }).toMap)
  }

  private def splitBatch(parts: Array[String]): (Array[String], Option[Long]) = {
    val (pos, keyed) = splitKeyed(parts)
    (pos, keyed.get("batch").flatMap(_.toLongOption))
  }

  def pqParams(spark: SparkSession, path: String): PqParams =
    pqParamsOf(loadChain(spark, path))

  private def pqParamsOf(info: ChainInfo): PqParams = {
    val (parts, keyed) = splitKeyed(info.headMeta.split(" "))
    val ti = keyed.get("ti").flatMap(_.toIntOption).getOrElse(DefaultTrainIters)
    parts(0) match {
      case "pq" =>
        require(parts.length == 4,
          s"malformed pq sidecar under ${info.path}: '${parts.mkString(" ")}'")
        PqParams(parts(1).toInt, parts(2).toInt, parts(3).toInt, ti)
      case "pq-delta" =>
        require(parts.length == 5,
          s"malformed pq-delta sidecar under ${info.path}: '${parts.mkString(" ")}'")
        PqParams(parts(2).toInt, parts(3).toInt, parts(4).toInt, ti)
      case other =>
        throw new IllegalArgumentException(
          s"artifact under ${info.path} is '$other', not a PQ index")
    }
  }

  /** Whether any version has ever committed — the day-zero probe (head
    * sidecar read only, no chain walk). */
  def isBuilt(spark: SparkSession, path: String): Boolean =
    store.isBuilt(spark, path)

  /** The batch id the committed HEAD was published under, if the writer
    * recorded one — artifact-kind-agnostic. The loop's idempotence key:
    * a tick re-running after a crash sees its own batch at the head and
    * skips the ANN step instead of stacking duplicate codes/postings (a
    * double band-layer append is probe-distinct'ed away; duplicate PQ
    * codes would double ADC sums and duplicate postings would double
    * candidates — so the skip must be loud-and-early, not repaired
    * downstream). */
  def headBatch(spark: SparkSession, path: String): Option[Long] =
    splitBatch(loadChain(spark, path).headMeta.split(" "))._2

  /** The chain from the newest committed version down to its full-build
    * root — one element for a freshly built index, root LAST. */
  def pqChain(spark: SparkSession, path: String): Seq[Int] =
    loadChain(spark, path).chain

  /** Codebooks live at the CHAIN ROOT: delta layers pin the books they
    * were encoded against, so a probe mixing layers always ranks with
    * one consistent quantizer. */
  def pqBooks(spark: SparkSession, path: String): DataFrame =
    rootData(spark, loadChain(spark, path), "books")

  /** A dataset of the chain ROOT — the quantizer every layer was built
    * against (`books` / `centroids`). */
  private def rootData(spark: SparkSession, info: ChainInfo, name: String): DataFrame =
    spark.read.parquet(new Path(store.vdir(info.path, info.chain.last), name).toString)

  /** A layer's optional dataset (codes/postings/tombs) — delta layers
    * may carry any subset; a chain root always carries its data. */
  private def layerData(spark: SparkSession, path: String, v: Int,
                        name: String): Option[DataFrame] = {
    val p = new Path(store.vdir(path, v), name)
    if (VersionedChain.fs(spark, path).exists(p)) Some(spark.read.parquet(p.toString))
    else None
  }

  /** LSM assembly of a layered id-keyed relation. Semantics: a row in
    * layer `u` survives iff NO tombstone set published by a strictly
    * NEWER layer `v > u` contains its id — a tombstone kills ids in
    * OLDER layers only, and an append above a tombstone (or in the same
    * layer) legitimately re-adds the id. Rather than one anti-join per
    * tomb-carrying layer (O(tomb layers) joins — the cost the round-12
    * verdict flagged for LONG chains), every tomb set is stamped with
    * its layer version and the whole fold is ONE broadcast anti-join:
    * `data(id, layer) LEFT ANTI tombs(id, tlayer) ON id match AND
    * tlayer > layer`. The tomb union is removal-sized (deletes since
    * the last compaction — broadcast-class by the delete-cadence
    * contract), the data side never shuffles, and cell/partition
    * filters still push through the union and the anti-join's left
    * side to each layer's scan. Compaction republishes survivors with
    * no tombs at all — the physical delete. */
  private def foldLayers(spark: SparkSession, path: String,
                         chain: Seq[Int], name: String): DataFrame = {
    val layers = chain.flatMap(v =>
      layerData(spark, path, v, name).map(d => d.withColumn("_layer", lit(v))))
    if (layers.isEmpty) throw new IllegalArgumentException(
      s"ann chain under $path has no '$name' data at its root")
    val data = layers.reduce(_ unionByName _)
    val tombs = chain.flatMap(v => layerData(spark, path, v, "tombs")
      .map(_.select(col("id").as("_tomb_id")).withColumn("_tomb_layer", lit(v))))
    val folded = tombs.reduceOption(_ unionByName _) match {
      case None => data
      case Some(t) => data.join(broadcast(t),
        col("id") === col("_tomb_id") && col("_tomb_layer") > col("_layer"),
        "left_anti")
    }
    folded.drop("_layer")
  }

  /** The encoded corpus: every layer's codes down the chain, minus ids
    * tombstoned by a LATER layer ([[foldLayers]] semantics). Live ids
    * are unique by the [[appendPq]] contract, so no dedup pass at probe
    * time. */
  def pqCodes(spark: SparkSession, path: String): DataFrame =
    foldLayers(spark, path, pqChain(spark, path), "codes")

  def ivfCentroids(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(
      new Path(store.vdir(path, loadChain(spark, path).head), "centroids").toString)

  /** PQ-ADC top-k against the persisted index — zero training; the (m,
    * subLen) the LUT needs come from the artifact's own sidecar. ONE
    * chain load serves params, books and codes (r22). */
  def pqTopK(spark: SparkSession, path: String, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val info = loadChain(spark, path)
    val p = pqParamsOf(info)
    Similarity.pqTopKFrom(rootData(spark, info, "books"),
      foldLayers(spark, path, info.chain, "codes"),
      queries, k, p.m, p.subLen, idCol, vecCol)
  }

  /** IVF assignment of a relation against the persisted centroids (the
    * probe side of the q87 construction). */
  def ivfAssign(spark: SparkSession, path: String, corpus: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.assignCellsAgg(
      Similarity.unitVectors(Spread.ensureParallel(corpus), Seq(idCol -> "id"), vecCol),
      ivfCentroids(spark, path))

  /** Rows per write task within one posting cell. One task per cell is
    * the small-files optimum — until a HOT cell (skewed quantizer, or a
    * corpus whose mass concentrates in few cells) turns that one task
    * into the write straggler: at 100 TB a cell holding 1% of the corpus
    * is a terabyte in a single task. Cells above the cap are salted
    * across ceil(rows/cap) write tasks; the salt exists only during the
    * shuffle and never reaches the directory layout, so probes still
    * prune on `cell` alone and read every file of a probed cell exactly
    * as before. */
  val PostingCellTaskCap = 1000000L

  /** The posting write: cluster rows by cell for the partitionBy, but
    * cap any one cell's share of a task — small cells stay one file,
    * hot cells fan out over `ceil(rows/cap)` salted tasks. The shuffle
    * gets an EXPLICIT task count (the sum of per-cell splits — the work
    * decomposition itself) so AQE cannot coalesce the fan-out away: the
    * whole point is that no single task owns a hot cell. `posts` is
    * consumed twice (per-cell counts + the write), so it is pinned for
    * the duration; the count table is one row per cell — control-plane,
    * bounded by the quantizer. */
  private def writePostings(posts: DataFrame, dir: Path,
                            cap: Long): Unit = {
    require(cap > 0, s"posting cell task cap must be positive: $cap")
    val pinned = posts
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val splits = pinned.groupBy("cell").agg(count(lit(1)).as("cell_rows"))
        .select(col("cell"), greatest(lit(1L),
          ceil(col("cell_rows").cast("double") / cap).cast("long"))
          .as("cell_splits"))
        .collect().map(r => (r.get(0), r.getLong(1)))
      if (splits.isEmpty) {
        // ZERO posting rows (a compaction of a fully-tombstoned chain):
        // a dynamic-partitioned write of nothing leaves a directory
        // holding only _SUCCESS — schema-inference poison for every
        // later read of the artifact. A plain write of the empty frame
        // lands one schema-carrying file instead (`cell` becomes a
        // data column; the relation is empty, so cell filters and
        // layer unions are unaffected) and the store stays readable.
        pinned.write.mode("overwrite").parquet(dir.toString)
        return
      }
      val tasks = math.min(splits.map(_._2).sum.max(1L), 1L << 20).toInt
      val splitsDf = posts.sparkSession
        .createDataFrame(splits.map(t => org.apache.spark.sql.Row(t._1, t._2)).toList.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("cell",
              pinned.schema("cell").dataType),
            org.apache.spark.sql.types.StructField("cell_splits",
              org.apache.spark.sql.types.LongType, nullable = false))))
      pinned.join(broadcast(splitsDf), "cell")
        .withColumn("salt", pmod(xxhash64(col("id")), col("cell_splits")))
        .drop("cell_splits")
        .repartition(tasks, col("cell"), col("salt")).drop("salt")
        .write.partitionBy("cell").mode("overwrite").parquet(dir.toString)
    } finally { pinned.unpersist(); () }
  }

  /** Train refined centroids (the q87 construction) AND materialize the
    * POSTING LISTS: the corpus assigned to its cells and written
    * `partitionBy(cell)` — the inverted file of a disk IVF index. This
    * is the piece that makes probes sub-corpus at 100 TB: a query's
    * candidate read touches only its nprobe cell DIRECTORIES (static
    * partition pruning, plan-visible), never the other
    * (cells − nprobe)/cells of the corpus. Unit vectors are stored, so
    * the probe also skips re-normalization. Returns the committed
    * version. */
  def buildIvfPostings(corpus: DataFrame, path: String, refineIters: Int = 1,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       cellCol: String = "label",
                       batchId: Option[Long] = None,
                       cellTaskCap: Long = PostingCellTaskCap,
                       trainOn: Option[DataFrame] = None): Int = {
    val spark = corpus.sparkSession
    graft.JobLabel(spark, s"ann buildIvfPostings $path") {
    // corpus-sized multi-consumer (every Lloyd round + the final
    // assignment + the posting write) — spill-friendly persist, not an
    // O(corpus) executor-disk checkpoint copy. When `trainOn` is given,
    // the quantizer trains on IT (its `cellCol` labels seed the Lloyd
    // refinement) while the postings cover all of `corpus`, whose own
    // labels — if any — are ignored: the seed path for a store whose
    // corpus is only partially labeled (DailyLoop's vector store after
    // label-less ticks).
    val corpusP = Spread.ensureParallel(corpus) // scan-parallelism floor
    val units = (trainOn match {
      case None => Similarity.unitVectors(
        corpusP, Seq(idCol -> "id", cellCol -> "cell"), vecCol)
      case Some(_) => Similarity.unitVectors(corpusP, Seq(idCol -> "id"), vecCol)
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seedPinned = trainOn.map(t => Similarity.unitVectors(
      Spread.ensureParallel(t), Seq(idCol -> "id", cellCol -> "cell"), vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val seed = seedPinned.getOrElse(units)
      val cents = Similarity.kmeansRefineExact(
        seed, Similarity.exactCentroids(seed), refineIters)
      store.publish(spark, path) { vd =>
        writeBase(spark, vd, "centroids", cents, "postings", units.drop("cell")
          .join(Similarity.assignCellsAgg(units, cents)
            .select(col("id"), col("assigned_cell").as("cell")), "id"),
          1)(writePostings(_, _, cellTaskCap))
        s"ivfp $refineIters${batchSuffix(batchId)}"
      }
    } finally { units.unpersist(); seedPinned.foreach(_.unpersist()); () }
    }
  }

  /** [[loadChain]] with the ivfp root check — one listing + one sidecar
    * read per layer for the whole operation. */
  private def ivfpInfo(spark: SparkSession, path: String): ChainInfo = {
    val info = loadChain(spark, path)
    require(info.rootMeta.startsWith("ivfp "),
      s"artifact under $path is '${info.rootMeta.split(" ")(0)}', " +
        "not an IVF posting store")
    info
  }

  /** The posting-store chain, head first, root (a full build) last —
    * loud when the root is not an ivfp artifact. */
  def ivfpChain(spark: SparkSession, path: String): Seq[Int] =
    ivfpInfo(spark, path).chain

  /** The posting store's committed Lloyd refinement depth, read from the
    * chain ROOT's sidecar — the geometry a retraining refresh must
    * REUSE (the compactIvfPostings rule): a refresh that silently fell
    * back to the build default would rebuild a custom-geometry store
    * with different centroid quality on its first cadence hit. */
  def ivfpRefineIters(spark: SparkSession, path: String): Int = {
    val (parts, _) = splitBatch(ivfpInfo(spark, path).rootMeta.split(" "))
    parts(1).toInt
  }

  /** The posting relation (id, unit, cell), cell-partitioned on disk —
    * every layer down the chain, minus ids tombstoned by a later layer
    * ([[foldLayers]]). Cell filters push through the unions and the
    * anti-joins' probe side to each layer's scan, so partition pruning
    * survives both layering and deletion. */
  def ivfpPostings(spark: SparkSession, path: String): DataFrame =
    foldLayers(spark, path, ivfpChain(spark, path), "postings")

  /** O(delta) posting-store ingest: assign the delta against the chain
    * ROOT's pinned centroids and publish its cell-partitioned postings
    * as a parent-linked layer — [[appendPq]]'s semantics for the
    * inverted file. The appendPq contract: a LIVE re-appended id would
    * surface the same candidate at two ranks in every probe, so
    * [[appendLayer]] rejects it loudly; a changed vector is `removals` +
    * `delta` carrying the same id in one call. Returns the committed
    * version. */
  def appendIvfPostings(delta: DataFrame, path: String,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        batchId: Option[Long] = None,
                        cellTaskCap: Long = PostingCellTaskCap,
                        removals: Option[DataFrame] = None): Int = {
    val spark = delta.sparkSession
    graft.JobLabel(spark, s"ann appendIvfPostings $path") {
    // ONE chain load serves parent, centroids, the guard and the (lazy)
    // liveness scan — the r22 control-plane rule
    val info = ivfpInfo(spark, path)
    val cents = rootData(spark, info, "centroids")
    val units = Similarity.unitVectors(
      Spread.ensureParallel(delta), Seq(idCol -> "id"), vecCol)
    appendLayer(spark, "appendIvfPostings", info, "postings", delta, idCol,
      removals, s"ivfp-delta ${info.head}${batchSuffix(batchId)}") {
      writePostings(units.join(Similarity.assignCellsAgg(units, cents)
        .select(col("id"), col("assigned_cell").as("cell")), "id"), _, cellTaskCap)
    }
    }
  }

  /** Collapse the posting chain WITHOUT retraining: root centroids +
    * the union of every layer's postings republished as one base —
    * answer-invariant (the [[compactPq]] rule; a buildIvfPostings
    * refresh retrains and legitimately changes rankings). Returns the
    * committed version. */
  def compactIvfPostings(spark: SparkSession, path: String,
                         cellTaskCap: Long = PostingCellTaskCap): Int =
    graft.JobLabel(spark, s"ann compactIvfPostings $path") {
    val info = ivfpInfo(spark, path)
    // params from the ROOT sidecar (compactLayers adds the HEAD's batch)
    compactLayers(spark, info, "centroids", "postings", 1,
      splitBatch(info.rootMeta.split(" "))._1.mkString(" "))(
      writePostings(_, _, cellTaskCap))
    }

  /** Multi-probe IVF top-k against the persisted posting lists —
    * [[Similarity.cellTopKMultiProbe]]'s exact semantics (the same
    * probe selector [[Similarity.nearestCells]] and cosine scorer
    * [[Similarity.cosineTopK]]) but with the candidate scan PRUNED to
    * the probed cell partitions. The probed cell set is control-plane
    * (≤ min(queries × nprobe, cells) ids, and cells is bounded by the
    * quantizer — centroids are already a broadcast-sized table)
    * collected once to drive static partition pruning; the big side
    * never shuffles and never reads an unprobed directory.
    *
    * Non-null cells (r19 verdict watch 2): cells reaching an AnnIndex
    * store are Lloyd-ASSIGNED longs ([[buildIvfPostings]] derives them
    * from `kmeansRefineExact`'s argmax over non-empty centroid sets;
    * [[writePostings]] partitions on them), so neither a centroid nor a
    * posting cell is ever NULL. The selector's NULLS LAST tie-break and
    * the scorer's null-safe cell match — there for the LABEL-keyed
    * in-session paths, where a raw label column may carry NULL
    * populations — therefore select and match exactly what a plain
    * `asc` order and `===` join would here. */
  def postingsTopK(spark: SparkSession, path: String, queries: DataFrame,
                   k: Int, nprobe: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val info = ivfpInfo(spark, path)
    val probes = Similarity.nearestCells(
        Similarity.unitVectors(queries, Seq(idCol -> "query_id"), vecCol, "qu"),
        rootData(spark, info, "centroids"), nprobe)
      .localCheckpoint() // feeds the cell collect AND the candidate join
    val probedCells: Seq[Any] = probes.select(col("p_cell")).distinct()
      .collect().map(_.get(0)).toSeq
    val post = foldLayers(spark, path, info.chain, "postings")
      .filter(col("cell").isin(probedCells: _*)) // static partition pruning
    Similarity.cosineTopK(
      post.select(col("id").as("cand_id"), col("unit").as("cu"), col("cell").as("c_cell")),
      probes, k)
  }
}
