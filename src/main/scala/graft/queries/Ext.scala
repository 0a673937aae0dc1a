package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis => TA}

/** EXT operators (SURVEY.md §2 EXT rows): dedup, similarity search, text
  * analysis, multimodal plumbing — the training-data-pipeline surface.
  * Oracle SQL is generated from the same constants as the Spark side so
  * thresholds and stopword lists cannot drift.
  */
object Ext {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) = Tables.load(s, dir, name)

  /** [[graft.Scratch.dir]] wiped to an empty directory: a lifecycle entry's
    * run must not see the previous run's stores (DailyLoop skips ticks
    * already committed there, AnnIndex would extend the old chain).
    * Safe because Verify, Bench and the specs run entries one at a time
    * and consume each result before the entry runs again. */
  private def freshScratch(name: String): String = {
    val d = new java.io.File(graft.Scratch.dir(name))
    graft.sources.Landing.deleteNoFollow(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Scheduler day `d` of a lifecycle entry's daily loop. */
  private final case class Day(p: graft.DailyLoop.Paths, d: Int,
                               at: java.sql.Timestamp, docs: DataFrame) {
    /** The empty document delta of a vector-only tick. */
    def noDocs: DataFrame = docs.limit(0)
  }

  /** Runs `tick` for days 1..`days` (stamped 2025-04-0d midnight) over
    * fresh loop paths under the entry's scratch dir; returns the paths
    * for the probe. `docs` is the documents table's (doc_id, text). */
  private def dailyLoop(s: SparkSession, dir: String, name: String,
                        days: Int = 3)(tick: Day => Unit): graft.DailyLoop.Paths = {
    val p = graft.DailyLoop.Paths(freshScratch(name))
    val docs = t(s, dir, "documents").select("doc_id", "text")
    (1 to days).foreach { d =>
      tick(Day(p, d, java.sql.Timestamp.valueOf(f"2025-04-0$d%d 00:00:00"), docs))
    }
    p
  }

  /** The ranked PQ/ADC probe output: similarity rounded to 6 dp (the
    * engines' decimal sums differ in the last ulp). */
  private def pqRanked(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("cand_id"), col("rank"),
              round(col("approx_sim"), 6).as("approx_sim"))
      .orderBy("query_id", "rank")

  /** The ranked posting-store probe output, rounded like [[pqRanked]]. */
  private def postingsRanked(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("cand_id"),
              round(col("sim"), 6).as("sim"), col("rank"))
      .orderBy("query_id", "rank")

  private val JaccardThreshold = 0.8
  private val ContainmentThreshold = 0.9
  private val CosineDupThreshold = 0.4
  // Small enough that BOTH auto layers actually subdivide at sf0.01
  // (labels hold 44-59 vectors): the AUTO-C coarse target (32) splits
  // every coarse cell into ~2 refined coarse cells, and the sub-seed
  // target (12) splits those ~20-30-vector refined cells into 2-3
  // sub-seeds — q116 exercises the subdivision paths, not the splits=1
  // identities.
  private val AutoKTargetCell = 12L
  private val AutoCoarseTarget = 32L
  // q143's engaged-ladder coarse target: ladderTargets(maxPop, N, 5, 0)
  // yields exactly [25, 5] while the fixture's max coarse population
  // sits in (25, 125] — measured 66 at sf0.01, centered with margin on
  // both boundaries (and spec-pinned at that point).
  private val LadderCoarseTarget = 5L
  /** PageRank rounds / fixed-point scale for q99. */
  private val PageRankIters = 3
  private val PageRankScale = 1000000000000L
  /** HLL relative standard deviation for the q42/q84 bound gates: the
    * within_bound flag asserts |approx − exact| ≤ 3·rsd·exact (≈3σ). */
  private val HllRsd = 0.05
  /** percentile_approx accuracy for q90: rank error ≤ n/acc per group. */
  private val QuantileAcc = 10000

  val queries: Map[String, Q] = Map(
    // Exact dedup: content digest → representative + multiplicity.
    "q30_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"))
        .orderBy("content_hash")
    }),

    // Exact n-gram Jaccard near-dup pairs (ground truth for LSH).
    "q31_dedup_jaccard" -> ((s, dir) => {
      // maxShingleDf = 0: this is the labeled ground-truth variant; the
      // oracle computes the same unguarded all-pairs answer. Every other
      // entry point keeps the default df cap on.
      Dedup.jaccardPairs(Dedup.shingleSets(t(s, dir, "documents")), JaccardThreshold,
        maxShingleDf = 0L)
        .orderBy("a_id", "b_id")
    }),

    // MinHash+LSH candidates, exact-verified — must reproduce q31's answer
    // (16 bands × 4 rows: P[miss | j≥0.8] < 3e-4).
    "q32_dedup_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashDupPairs(t(s, dir, "documents"), JaccardThreshold)
        .orderBy("a_id", "b_id")
    }),

    // SimHash candidates under the PRODUCTION xxhash64 signature, gated
    // through an oracle-checkable invariant: identical texts produce
    // identical signatures under ANY token hash, so every exact-duplicate
    // pair MUST surface from the band join at hamming 0. That pins the
    // whole Spark-native path (signature, banding, population cap,
    // pairing) to a truth DuckDB can compute — no more rows-only row in
    // the driver's report. The fixture has no exact-text duplicates below
    // sf0.1, so both engines INJECT deterministic copies (every 20th doc
    // re-keyed past the id range) — the gate is non-vacuous at every SF.
    // The FULL near-dup pair set is not mirrorable for xxhash64 by
    // design; it stays spec-gated (DedupSpec) and hash-gated under the
    // portable hash as twin q74.
    "q33_dedup_simhash" -> ((s, dir) => {
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = d0.union(d0.filter(col("doc_id") % 20 === 0)
        .withColumn("doc_id", col("doc_id") + lit(10000000L)))
      val sim = Dedup.simhashDupPairs(Dedup.simhash(docs), maxHamming = 3)
      val exact = docs.as("a").join(docs.as("b"),
          col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      exact.join(sim, Seq("a_id", "b_id"))
        .select(col("a_id"), col("b_id"), col("hamming"))
        .orderBy("a_id", "b_id")
    }),

    // Column profiling (data-quality scan): every metric for every
    // column in ONE wide aggregate, pivoted to a row per column.
    "q70_profile" -> ((s, dir) => {
      graft.operators.Profiling.profile(
        t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"),
        numeric = Set("o_orderkey", "o_custkey", "o_totalprice"))
        .orderBy("col_name")
    }),

    // Column profiling with HLL cardinalities — the wide-table variant:
    // every metric INCLUDING n_distinct in one aggregate pass, no melted
    // distinct scan (that one-scan shape is profileApprox itself,
    // spec-gated in ProfilingSpec). The HLL estimate is engine-specific,
    // so the GATE query emits the exact profile (q70's oracle semantics)
    // plus within_bound = |hll − exact| ≤ 3·rsd·exact per column,
    // checked in plan against the q70-style exact pass.
    "q84_profile_hll" -> ((s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
                     "o_totalprice", "o_orderpriority")
      val num = Set("o_orderkey", "o_custkey", "o_totalprice")
      val orders = t(s, dir, "orders")
      // rsd passed explicitly — the bound below is 3·HllRsd, and the
      // sketch must run at the SAME constant or the gate silently drifts
      val hll = graft.operators.Profiling.profileApprox(orders, cols, num,
        rsd = HllRsd)
        .select(col("col_name"), col("n_distinct").as("nd_hll"))
      graft.operators.Profiling.profile(orders, cols, num)
        .join(hll, Seq("col_name")) // both sides are #cols rows
        .select(col("col_name"), col("n_rows"), col("nonnull"), col("nulls"),
                col("n_distinct"), col("min_num"), col("max_num"),
                col("min_str"), col("max_str"),
          (abs(col("nd_hll") - col("n_distinct")).cast("double")
             <= lit(3.0 * HllRsd) * col("n_distinct").cast("double"))
            .cast("long").as("within_bound"))
        .orderBy("col_name")
    }),

    // SimHash with the PORTABLE token hash — oracle-verifies the entire
    // SimHash pipeline (tf weighting, bit sums, sign assembly, 16-bit
    // banding, popcount Hamming) that q33's xxhash64 variant can't.
    // Production stays on xxhash64 (q33); this is the parity twin.
    "q74_simhash_portable" -> ((s, dir) => {
      Dedup.simhashDupPairs(
        Dedup.simhash(t(s, dir, "documents"),
                      tokHash = Dedup.portableTokenHash),
        maxHamming = 3)
        .orderBy("a_id", "b_id")
    }),

    // Containment near-dup pairs: |A∩B|/min — partial-duplicate
    // detection (quoting/subsumption) that symmetric Jaccard misses when
    // doc sizes differ.
    "q73_containment" -> ((s, dir) => {
      // maxShingleDf = 0: oracle-parity ground truth, like q31 — the
      // oracle is uncapped, and a capped Spark side would silently
      // diverge at whatever SF first produces an over-cap shingle.
      Dedup.containmentPairs(Dedup.shingleSets(t(s, dir, "documents")),
          ContainmentThreshold, maxShingleDf = 0L)
        .orderBy("a_id", "b_id")
    }),

    // Winnowing fingerprint near-dup pairs (MOSS-style): portable
    // polynomial gram hashes → sliding-window minima → pairs sharing
    // ≥ 2 rare fingerprints. The df cap (winnowDupPairs) is load-bearing:
    // window minima concentrate on few gram values, and the oracle
    // mirrors the cap (QUALIFY on the fingerprint's doc frequency).
    "q68_winnow_pairs" -> ((s, dir) => {
      Dedup.withPersisted(Dedup.winnowFingerprints(t(s, dir, "documents"))) {
        fps => Dedup.winnowDupPairs(fps)
      }.orderBy("doc_a", "doc_b")
    }),

    // Quality signals: token counts, stopword ratio, punctuation, length.
    // Tokens materialize in their own projection: the tokenizer regexp
    // would otherwise re-run once per consuming expression (and per lambda
    // element inside HOFs).
    "q34_text_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), TA.wordTokens(col("text")).as("toks"))
      val toks = col("toks")
      d.select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_obs"),
          TA.hitCount(toks, TA.stopEn).as("stop_hits"),
          TA.punctCount(col("text")).as("punct_cnt"),
          TA.tokenLenSum(toks).as("tok_len_sum"))
        .withColumn("stop_ratio",
          when(col("n_tokens") > 0,
               col("stop_hits").cast("double") / col("n_tokens").cast("double")))
        .withColumn("avg_tok_len",
          when(col("n_tokens") > 0,
               col("tok_len_sum").cast("double") / col("n_tokens").cast("double")))
        .orderBy("doc_id")
    }),

    // Language ID from stopword profiles (argmax case-ladder).
    "q35_langid" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), TA.wordTokens(col("text")).as("toks"))
      val toks = col("toks")
      d.select(
          col("doc_id"),
          TA.hitCount(toks, TA.stopEn).as("en_hits"),
          TA.hitCount(toks, TA.stopEs).as("es_hits"),
          TA.hitCount(toks, TA.stopDe).as("de_hits"),
          TA.hitCount(toks, TA.stopFr).as("fr_hits"))
        .withColumn("lang_pred",
          TA.langGuess(col("en_hits"), col("es_hits"), col("de_hits"), col("fr_hits")))
        .orderBy("doc_id")
    }),

    // Language ID, n-gram variant: character-trigram profile hits
    // (spaces included — the strongest char-level signal). Same argmax
    // ladder as q35; narrow per-row transform, trigrams materialized
    // once.
    "q63_langid_ngram" -> ((s, dir) => {
      // Trigram hits as substring-occurrence counts over the lowercased
      // text (TA.trigramHits): pure replace/length string ops, no char
      // array or per-position trigram strings — ~8× faster than the
      // charTrigrams path and provably equal for non-self-overlapping
      // profiles (TrigramHitsSpec).
      t(s, dir, "documents")
        .select(col("doc_id"), lower(col("text")).as("lt"))
        .select(
          col("doc_id"),
          TA.trigramHits(col("lt"), TA.triEn).as("en_hits"),
          TA.trigramHits(col("lt"), TA.triEs).as("es_hits"),
          TA.trigramHits(col("lt"), TA.triDe).as("de_hits"),
          TA.trigramHits(col("lt"), TA.triFr).as("fr_hits"))
        .withColumn("lang_pred",
          TA.langGuess(col("en_hits"), col("es_hits"), col("de_hits"), col("fr_hits")))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace and BPE-ish pre-tokenizer.
    "q36_token_counts" -> ((s, dir) => {
      t(s, dir, "documents").select(
          col("doc_id"),
          size(TA.wsTokens(col("text"))).cast("long").as("ws_tokens"),
          size(TA.bpeishTokens(col("text"))).cast("long").as("bpe_tokens"),
          length(col("text")).cast("long").as("chars"))
        .orderBy("doc_id")
    }),

    // TF-IDF top-5 terms per document. Ranking uses only integers
    // (tf desc, doc_freq asc, term) so engine ulp differences in ln()
    // cannot flip ranks; the score itself is rounded to 6dp.
    "q50_tfidf_topterms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val tf0 = docs
        .select(col("doc_id"), explode(TA.wordTokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("doc_freq").asc, col("term").asc)
      // tf feeds BOTH the doc-frequency aggregate and the join's left
      // side — persisted so the tokenize+count shuffle runs once
      Dedup.withPersisted(tf0) { tf =>
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
        tf.join(dfreq, "term").crossJoin(broadcast(n))
          .withColumn("tfidf",
            round(col("tf").cast("double") *
                  log(col("n_docs").cast("double") / col("doc_freq").cast("double")), 6))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("doc_id"), col("term"), col("tf"), col("doc_freq"),
                  col("rank"), col("tfidf"))
      }.orderBy("doc_id", "rank")
    }),

    // Rolling-hash document fingerprint (ordered fold — oracle mirrors
    // with list_reduce).
    "q37_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(
          col("doc_id"),
          TA.rollingFingerprint(TA.wsTokens(lower(col("text")))).as("fp"))
        .orderBy("doc_id")
    }),

    // Brute-force cosine top-10 for a broadcast query set.
    "q38_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10)
        .select("query_id", "cand_id", "rank", "sim")
        .orderBy("query_id", "rank")
    }),

    // IVF-style top-3 within the query's cell (label = coarse cell id).
    "q39_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.cellTopK(e, e.filter(col("vec_id") % 100 === 0), k = 3)
        .select("query_id", "cand_id", "rank", "sim")
        .orderBy("query_id", "rank")
    }),

    // Embedding-cosine near-dup pairs, cell-blocked (label = IVF bucket):
    // the 100 TB shape — within-cell equi-join, never all-pairs.
    "q40_embed_dups" -> ((s, dir) => {
      Similarity.cellDupPairs(t(s, dir, "embeddings"), CosineDupThreshold)
        .orderBy("a_id", "b_id")
    }),

    // Embedding-cosine near-dup pairs via signed-random-projection LSH:
    // the centroid-free scale path (no trained quantizer, unlike q40's
    // cell blocking). Hyperplanes are a deterministic integer LCG, so the
    // oracle mirrors the ENTIRE pipeline — sign bits, band packing,
    // candidate join, exact verify — not just the final answer.
    "q75_srp_dups" -> ((s, dir) => {
      Similarity.srpDupPairs(t(s, dir, "embeddings"), CosineDupThreshold)
        .orderBy("a_id", "b_id")
    }),

    // Incremental near-dup dedup: a delta (doc_id % 10 = 0) against the
    // standing corpus (the rest), WITHOUT re-hashing the corpus — delta
    // bands probe the corpus band index, delta-internal pairs come from
    // delta-only banding, verification restricted to candidate docs.
    // Oracle = the full exact recompute restricted to pairs touching the
    // delta, so both the candidate recall AND the O(delta) restriction
    // are hash-gated. Closes the last spec-only first-class operator.
    "q81_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpusSh = Dedup.explodedShingles(
        Dedup.shingleSets(docs.filter(col("doc_id") % 10 =!= 0)))
      val deltaSh = Dedup.explodedShingles(
        Dedup.shingleSets(docs.filter(col("doc_id") % 10 === 0)))
      Dedup.withPersisted(corpusSh) { c =>
        Dedup.withPersisted(deltaSh) { d =>
          Dedup.minhashPairsIncremental(c, d, JaccardThreshold)
        }
      }.orderBy("a_id", "b_id")
    }),

    // q81 through the PRODUCTION path: the corpus band index is built ON
    // DISK (directory-partitioned on pmod(xxhash64(band,bkey), 64) with a
    // layout sidecar — BandIndex) and the delta probes it by PATH with a
    // partition-pruned read: only touched bucket directories are scanned,
    // the banding layout comes from the sidecar, and no in-session state
    // survives from the build (DedupSpec proves the cross-session read
    // and asserts the pruned scan). Same oracle as q81: the full exact
    // recompute restricted to delta-touching pairs, so candidate recall
    // through the on-disk layout is itself hash-gated.
    "q106_disk_index_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpusSh = Dedup.explodedShingles(
        Dedup.shingleSets(docs.filter(col("doc_id") % 10 =!= 0)))
      val deltaSh = Dedup.explodedShingles(
        Dedup.shingleSets(docs.filter(col("doc_id") % 10 === 0)))
      // per-process work dir (PID-scoped: concurrent Verify/Bench runs
      // must not race on one index; an overwrite mid-probe would read a
      // half-written index), removed on JVM exit — stable WITHIN the
      // process so bench repeats re-exercise the overwrite path. The
      // explicit file: scheme pins index AND cleanup to the local FS —
      // a scheme-less path would resolve through fs.defaultFS (HDFS on
      // a cluster) while the java.io.File cleanup stayed local
      val idxPath = "file:" + graft.Scratch.dir(
        s"graft_band_index_${Integer.toHexString(dir.hashCode)}")
      Dedup.withPersisted(corpusSh) { c =>
        graft.operators.BandIndex.write(c, idxPath) // the nightly build
        Dedup.withPersisted(deltaSh) { d =>
          graft.operators.BandIndex.minhashPairsFromIndex(
            idxPath, c, d, JaccardThreshold) // the daily probe
        }
      }.orderBy("a_id", "b_id")
    }),

    // The LAYERED daily loop over the same on-disk index: nightly base
    // build (docs ≢ 0,5 mod 10), day-1 delta APPENDED as an O(delta)
    // layer (≡ 5), day-2 delta probed against the base+layer chain
    // (≡ 0) — no corpus rewrite between ticks; the next full write()
    // compacts. The probe's truth is identical to a monolithic index
    // over ≢ 0 (DedupSpec asserts that equality programmatically; here
    // the DuckDB oracle gates it end-to-end).
    "q117_index_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val baseSh = Dedup.explodedShingles(Dedup.shingleSets(
        docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5)))
      val d1Sh = Dedup.explodedShingles(Dedup.shingleSets(
        docs.filter(col("doc_id") % 10 === 5)))
      val d2Sh = Dedup.explodedShingles(Dedup.shingleSets(
        docs.filter(col("doc_id") % 10 === 0)))
      val idxPath = "file:" + graft.Scratch.dir(
        s"graft_band_layer_${Integer.toHexString(dir.hashCode)}")
      Dedup.withPersisted(baseSh) { c =>
        graft.operators.BandIndex.write(c, idxPath) // nightly compaction
        Dedup.withPersisted(d1Sh) { d1 =>
          graft.operators.BandIndex.append(d1, idxPath) // day-1 tick
          Dedup.withPersisted(d2Sh) { d2 =>
            graft.operators.BandIndex.minhashPairsFromIndex(
              idxPath, c.union(d1), d2, JaccardThreshold) // day-2 probe
          }
        }
      }.orderBy("a_id", "b_id")
    }),

    // The q117 daily loop run CONTINUOUSLY: micro-batches probe the
    // persisted layered index, upsert verified pairs into a keyed
    // snapshot, then append themselves as an O(batch) layer. A pair is
    // discovered exactly when its later member arrives, so the final
    // snapshot equals the full-corpus pair set (batch q32's truth)
    // regardless of how the engine batched the input.
    "q118_stream_index_dedup" -> ((s, dir) => {
      graft.streaming.DocsStream.replayIndexedDedup(s, dir, JaccardThreshold)
        .orderBy("a_id", "b_id")
    }),

    // The OPERATIONAL daily loop (DailyLoop.runTick): three scheduler
    // ticks land disjoint document deltas against the persisted index —
    // probe, verify, pair-upsert, O(batch) layer append, marker commit —
    // with compaction cadence maxChain=2, so the chain is COLLAPSED
    // mid-sequence and later ticks probe the compacted index. Gated on
    // the same full-corpus truth as q118: orchestration, compaction and
    // tick commits must be answer-invariant.
    "q119_daily_loop_dedup" -> ((s, dir) => {
      val p = dailyLoop(s, dir, "graft_dailyq") { day =>
        graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(),
          day.docs.filter(col("doc_id") % 3 === lit(day.d - 1)), day.p, day.at,
          threshold = JaccardThreshold, maxChain = 2)
      }
      graft.streaming.DocsStream.readPairs(s, p.pairs)
        .orderBy("a_id", "b_id")
    }),

    // ANN recall@k — the tuning dial for the approximate tiers: hit
    // counts of IVF top-3 (q39), PQ-ADC top-5 (q61) and SRP-LSH pairs
    // (q75, sampled to vec_id % 10 = 0 so the exact pair ground truth
    // stays quadratic-in-a-sample) against brute-force truth (q38's
    // machinery). Integer set arithmetic only — both engines derive the
    // same rankings (oracle-proven by q38/q39/q61/q75), so counts match
    // exactly. NOTE on this fixture the reported recalls are LOW and
    // that is the correct answer: the synthetic `label` column is not a
    // geometric quantizer (a query's global top-3 virtually never shares
    // its label — verified by inspection), and at cosine 0.4 an SRP band
    // collides with p≈(1-acos(.4)/π)^6≈6% per band. The dial exists
    // precisely to expose that — a real deployment reads this row and
    // switches IVF to kmeansRefine cells or raises bands/rowsPerBand.
    "q82_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
      // one brute-force pass serves both truth sets (top-3 ⊂ top-5)
      val brute5 = Similarity.bruteForceTopK(e, q, k = 5)
        .select("query_id", "cand_id", "rank").localCheckpoint()
      val truth3 = brute5.filter(col("rank") <= 3).drop("rank")
      val truth5 = brute5.drop("rank")
      val ivf = Similarity.cellTopK(e, q, k = 3).select("query_id", "cand_id")
      val pq = Similarity.pqTopK(e, q, k = 5).select("query_id", "cand_id")
      // SRP runs on the SAMPLE, not the full corpus: band keys are
      // per-vector (broadcast hyperplanes), so sample-side banding finds
      // exactly the pairs whose endpoints are both sampled — identical
      // result at ~10× less candidate work than filtering afterwards.
      val srpSub = Similarity.srpDupPairs(
          e.filter(col("vec_id") % 10 === 0), CosineDupThreshold)
        .select("a_id", "b_id")
      val exactSub = Similarity.dupPairs(e.filter(col("vec_id") % 10 === 0),
          CosineDupThreshold)
        .select("a_id", "b_id")
      def counted(name: String, hits: org.apache.spark.sql.DataFrame,
                  truth: org.apache.spark.sql.DataFrame) =
        hits.agg(count(lit(1)).as("hits"))
          .crossJoin(truth.agg(count(lit(1)).as("truth_cnt")))
          .select(lit(name).as("method"), col("hits"), col("truth_cnt"))
      counted("ivf", ivf.join(truth3, Seq("query_id", "cand_id"), "left_semi"), truth3)
        .union(counted("pq",
          pq.join(truth5, Seq("query_id", "cand_id"), "left_semi"), truth5))
        .union(counted("srp",
          srpSub.join(exactSub, Seq("a_id", "b_id"), "left_semi"), exactSub))
        .orderBy("method")
    }),

    // Containment through the scale path: LSH candidates + exact
    // containment verify — the capped twin of q73's uncapped all-pairs
    // ground truth, exactly as q32 twins q31. The oracle is the EXACT
    // answer, so any LSH recall miss at this threshold fails the hash.
    "q83_containment_lsh" -> ((s, dir) => {
      Dedup.containmentDupPairs(t(s, dir, "documents"), ContainmentThreshold)
        .orderBy("a_id", "b_id")
    }),

    // Multimodal plumbing: opaque binary payload + typed metadata
    // (byte length, digest, magic prefix) — the decode stage itself is
    // exercised in MultimodalSpec with a deterministic stub.
    "q41_multimodal_meta" -> ((s, dir) => {
      val bin = col("text").cast("binary")
      t(s, dir, "documents").select(
          col("doc_id"),
          length(bin).cast("long").as("byte_len"),
          sha2(bin, 256).as("digest"),
          substring(hex(bin), 1, 8).as("magic_hex"))
        .orderBy("doc_id")
    }),

    // Dup-cluster resolution: connected components over the verified
    // near-dup pairs (iterative min-label propagation; oracle = recursive
    // CTE reachability). Edges come from the LSH candidate path — the
    // 100 TB shape, and oracle-proven equal to the exact all-pairs answer
    // at this threshold (q32 hash-matches q31); the oracle still derives
    // pairs exactly, so any LSH recall miss would fail the hash compare.
    "q48_dup_clusters" -> ((s, dir) => {
      Dedup.clusters(
        Dedup.minhashDupPairs(t(s, dir, "documents"), JaccardThreshold))
        .orderBy("doc_id")
    }),

    // Iterative graph analytics beyond connected components: damped
    // PageRank over the (symmetrized) near-dup graph — centrality = how
    // "hub-like" a document is inside its duplication neighborhood.
    // Pure integer fixed-point arithmetic, per-round lineage truncation
    // (see Analytics.pageRank); edges via LSH (q48 precedent — LSH ==
    // exact pairs is oracle-enforced by q32), oracle = the same three
    // unrolled iterations over the exact pairs CTE.
    "q99_pagerank" -> ((s, dir) => {
      val pairs = Dedup.minhashDupPairs(t(s, dir, "documents"), JaccardThreshold)
      val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      graft.operators.Analytics.pageRank(edges, PageRankIters, PageRankScale)
        .select(col("id").as("doc_id"), col("rank"))
        .orderBy("doc_id")
    }),

    // Apply the dedup decision: keep the min doc of each near-dup
    // cluster plus all singleton docs — the corpus a training pipeline
    // actually emits. Anti join against the removal set; edges via LSH
    // (see q48 — exact-equivalence is oracle-enforced).
    "q49_dedup_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val removed = Dedup.clusters(
          Dedup.minhashDupPairs(docs, JaccardThreshold))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      docs.join(removed, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Real IVF pipeline: exact-decimal centroids per cell → broadcast →
    // nearest-centroid assignment by codegen'd dot product.
    "q47_ann_ivf_assign" -> ((s, dir) => {
      val units = Similarity.unitVectors(
        t(s, dir, "embeddings"), Seq("vec_id" -> "id", "label" -> "cell"))
      val cents = Similarity.exactCentroids(units, "cell", "unit")
      Similarity.assignCellsAgg(units, cents)
        .select(col("id"), col("assigned_cell").cast("long").as("assigned_cell"),
                // engines' double→decimal casts differ in the last ulp of
                // the centroid dims; 6dp is far above that noise floor
                round(col("cell_sim"), 6).as("cell_sim"))
        .orderBy("id")
    }),

    // PQ-ADC approximate top-k — the third ANN tier: vectors stored as
    // m=4 one-byte codes instead of 64 floats; query similarity = sum of
    // per-subspace LUT entries (exact-decimal sum, order-independent).
    // Codebooks from deterministic cell centroids so the oracle mirrors
    // the whole construction.
    "q61_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      pqRanked(Similarity.pqTopK(e, e.filter(col("vec_id") % 100 === 0), k = 5))
    }),

    // The recall dial CLOSING THE LOOP on q82: q82 reports IVF recall
    // 0/15 because this fixture's `label` is not geometric; q88 re-runs
    // the same measurement with cells from the oracle-gated k-means
    // build (q87) — the fix a real deployment applies after reading
    // q82's row. Same integer set arithmetic; recall must improve
    // because Lloyd cells are Voronoi regions of the actual geometry.
    "q88_ann_recall_refined" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val units = Similarity.unitVectors(e, Seq("vec_id" -> "id", "label" -> "cell"))
      val init = Similarity.exactCentroids(units, "cell", "unit")
      val cents = Similarity.kmeansRefineExact(units, init, iters = 1)
      // both reused frames are small; materialize once (reuse pitfall)
      val refined = Similarity.assignCellsAgg(units, cents)
        .select(col("id").as("vec_id"), col("assigned_cell").as("label"))
        .join(e.drop("label"), "vec_id")
        .localCheckpoint()
      val q = refined.filter(col("vec_id") % 100 === 0)
      val truth3 = Similarity.bruteForceTopK(e, e.filter(col("vec_id") % 100 === 0), k = 3)
        .select("query_id", "cand_id")
        .localCheckpoint()
      val ivf = Similarity.cellTopK(refined, q, k = 3).select("query_id", "cand_id")
      ivf.join(truth3, Seq("query_id", "cand_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(truth3.agg(count(lit(1)).as("truth_cnt")))
        .select(lit("ivf_kmeans").as("method"), col("hits"), col("truth_cnt"))
    }),

    // The dial's third reading: multi-probe IVF (nprobe=2) over the same
    // refined cells — the standard recall/cost knob. Progression on this
    // fixture: raw labels 0/15 (q82) → refined single-probe 7/15 (q88)
    // → refined nprobe=2 here; cost stays nprobe/cells of a full scan.
    "q89_ann_recall_multiprobe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val units = Similarity.unitVectors(e, Seq("vec_id" -> "id", "label" -> "cell"))
      val init = Similarity.exactCentroids(units, "cell", "unit")
      val cents = Similarity.kmeansRefineExact(units, init, iters = 1)
        .localCheckpoint()
      val refined = Similarity.assignCellsAgg(units, cents)
        .select(col("id").as("vec_id"), col("assigned_cell").as("label"))
        .join(e.drop("label"), "vec_id")
        .localCheckpoint()
      val q = refined.filter(col("vec_id") % 100 === 0)
      val truth3 = Similarity.bruteForceTopK(e, e.filter(col("vec_id") % 100 === 0), k = 3)
        .select("query_id", "cand_id")
        .localCheckpoint()
      val mp = Similarity.cellTopKMultiProbe(refined, q, cents, k = 3, nprobe = 2)
        .select("query_id", "cand_id")
      mp.join(truth3, Seq("query_id", "cand_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(truth3.agg(count(lit(1)).as("truth_cnt")))
        .select(lit("ivf_kmeans_np2").as("method"), col("hits"), col("truth_cnt"))
    }),

    // IVF BUILD with Lloyd refinement, end-to-end oracle-proven: init
    // centroids from the label partition, ONE exact-decimal Lloyd round
    // (assign → decimal means — order-independent, so even TRAINING is
    // mirrored, like q61's PQ), then the refined assignment. The
    // production loop (kmeansRefine) keeps one-pass double buffers; this
    // is its deterministic twin and closes the last spec-only ANN stage.
    "q87_kmeans_refine" -> ((s, dir) => {
      val units = Similarity.unitVectors(
        t(s, dir, "embeddings"), Seq("vec_id" -> "id", "label" -> "cell"))
      val init = Similarity.exactCentroids(units, "cell", "unit")
      val cents = Similarity.kmeansRefineExact(units, init, iters = 1)
      Similarity.assignCellsAgg(units, cents)
        .select(col("id"), col("assigned_cell").cast("long").as("assigned_cell"),
                round(col("cell_sim"), 6).as("cell_sim"))
        .orderBy("id")
    }),

    // SemDeDup (arXiv:2303.09540) end-to-end: label-seeded k-means cells
    // (the same oracle-gated Lloyd round as q87) confine exact pairwise
    // cosine to within-cell blocks, and every vector with a lower-id
    // cell-mate at cosine >= threshold is REMOVED (keep-first, min-id
    // witness). Differs from q40 in both halves: cells are LEARNED, and
    // the output is the dedup decision, not the pair list. The shared
    // capPopulation guard bounds per-cell fanout (QUALIFY-mirrored).
    "q107_semantic_dedup" -> ((s, dir) => {
      Similarity.semDedupRemovals(t(s, dir, "embeddings"), CosineDupThreshold)
        .select(col("vec_id"), col("witness_id"),
                round(col("max_sim"), 6).as("max_sim"))
        .orderBy("vec_id")
    }),

    // q107 with BOTH quantizer layers scaled to the corpus and the
    // assign coarse-restricted — the pieces that make SemDeDup's
    // Σ O(cell²) budget hold at 100 TB: each vector is first assigned
    // into a label-seeded coarse cell (q87's init layer); AUTO-C then
    // subdivides over-populated coarse cells (ceil(pop/coarseTarget)
    // id-mod sub-seeds + one restricted geometric re-assign), so the
    // coarse layer itself grows with the corpus instead of pinning C at
    // |labels|; auto-k subdivides the refined coarse cells into
    // ceil(pop/targetCell) sub-seeds; and every Lloyd round scores a
    // vector ONLY against its own coarse cell's sub-centroids. Round 15
    // ran the sub-seed assign flat — O(N²/targetCell), the catalog's
    // worst decade point; round 16 added the coarse restriction
    // (N²/(C·targetCell), C fixed); round 17's auto-C bounds the
    // restricted term when the corpus outgrows C (PLANS.md one-label
    // matrix: the C=1 adversarial geometry stays in-band at sf10).
    "q116_semantic_autok" -> ((s, dir) => {
      Similarity.semDedupAutoKRemovals(
          t(s, dir, "embeddings"), AutoKTargetCell, CosineDupThreshold,
          coarseTarget = AutoCoarseTarget)
        .select(col("vec_id"), col("witness_id"),
                round(col("max_sim"), 6).as("max_sim"))
        .orderBy("vec_id")
    }),

    // The auto-k chain's final restricted ASSIGNMENT exposed — the
    // second auto-C consumer (r17 verdict stretch): same two-layer
    // corpus-scaled quantizer as q116, but the output is (vec_id, cell,
    // sim), so the depth-2 composite cell ids (densified coarse ·
    // SplitCap + sub) are themselves hashed against DuckDB's flooring
    // `//` arithmetic — q116's removals surface never exposes them.
    "q141_autok_assign" -> ((s, dir) => {
      Similarity.semDedupAutoKAssign(
          t(s, dir, "embeddings"), AutoKTargetCell,
          coarseTarget = AutoCoarseTarget)
        .select(col("vec_id"), col("cell"), round(col("sim"), 6).as("sim"))
        .orderBy("vec_id")
    }),

    // q141 with the auto-C ladder ENGAGED (r18 verdict task 2): small
    // coarseTarget (5) + the work floor zeroed make ladderTargets
    // decide [25, 5] on the sf0.01 fixture's maxPop = 66 (the floor is
    // a PERF gate for tiny corpora, deliberately bypassed so the
    // recursion machinery itself sits under the hash gate — the same
    // knob the engaged-ladder specs and the AutoKProbe --floor0 drift
    // pin use). The hashed ids are depth-3 composites, so the
    // two-level subdivide→re-assign→densify recursion is hash-proven
    // against DuckDB's L=2 CTE chain, not just spec-pinned.
    "q143_autok_ladder2" -> ((s, dir) => {
      Similarity.semDedupAutoKAssign(
          t(s, dir, "embeddings"), AutoKTargetCell,
          coarseTarget = LadderCoarseTarget, ladderRowsFloor = 0L)
        .select(col("vec_id"), col("cell"), round(col("sim"), 6).as("sim"))
        .orderBy("vec_id")
    }),

    // IVF+PQ composed (IVFADC): coarse cell restriction + PQ-ADC ranking
    // from m-byte codes — the standard billion-scale ANN index layout.
    // Per query the scan touches ONE cell's code rows; scoring reads m
    // small ints per candidate, never raw floats.
    "q86_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      pqRanked(Similarity.ivfPqTopK(e, e.filter(col("vec_id") % 100 === 0), k = 3))
    }),

    // q86's composed IVFADC with the q89 recall dial: each query probes
    // its nprobe=2 nearest cells BY CENTROID (exact-decimal label
    // centroids — q87's init layer) instead of its own label cell, so
    // recall recovers toward the flat-ADC ceiling at nprobe/cells of a
    // full scan; the corpus side still reads only the probed cells'
    // m-small-int codes. nprobe ≥ |cells| degenerates to flat PQ-ADC
    // (spec-pinned against pqTopK).
    "q142_ann_ivfpq_multiprobe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      pqRanked(Similarity.ivfPqTopKMultiProbe(e, e.filter(col("vec_id") % 100 === 0),
        k = 3, nprobe = 2))
    }),

    // q142's composed multi-probe plan with the FIXED 600-id query
    // batch of q132/q139/q140 (r18 verdict stretch): q142's query set
    // is %100 — corpus-proportional by construction, the oracle-anchor
    // role — so this twin is the one whose decade steps pin the
    // multi-probe IVFADC plan's per-query-batch cost, exactly as q140
    // pins q86's single-probe shape.
    "q144_ann_ivfpq_mp_fixedq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      pqRanked(Similarity.ivfPqTopKMultiProbe(e, e.orderBy("vec_id").limit(600),
        k = 3, nprobe = 2))
    }),

    // ANN artifacts PERSISTED (the q106 disk-index move applied to the
    // quantizers): PQ codebooks + the encoded corpus are published as a
    // versioned on-disk table at BUILD time (AnnIndex.buildPq, the
    // BandIndex publish pattern); the query then probes the artifacts
    // from disk and does ZERO training — at 100 TB the probe reads m
    // small ints per vector, never the raw floats, and never pays the
    // per-query retrain q61 deliberately includes. Shares q61's oracle:
    // persistence is a lifecycle change, bit-identical by construction.
    "q120_ann_pq_persisted" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = freshScratch("graft_annpq") + "/pq"
      graft.operators.AnnIndex.buildPq(e, idx, m = 4, subLen = 16,
        numCodes = 16, trainIters = 2)
      pqRanked(graft.operators.AnnIndex
        .pqTopK(s, idx, e.filter(col("vec_id") % 100 === 0), k = 5))
    }),

    // IVF centroids persisted the same way: the q87 Lloyd build publishes
    // its centroid table once (AnnIndex.buildIvf); the probe assigns the
    // corpus against the artifact read back from disk. Shares q87's
    // oracle.
    "q121_ann_ivf_persisted" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = freshScratch("graft_annivf") + "/ivf"
      graft.operators.AnnIndex.buildIvf(e, idx, refineIters = 1)
      graft.operators.AnnIndex.ivfAssign(s, idx, e)
        .select(col("id"), col("assigned_cell").cast("long").as("assigned_cell"),
                round(col("cell_sim"), 6).as("cell_sim"))
        .orderBy("id")
    }),

    // O(delta) ANN ingest: the PQ index built on HALF the corpus, the
    // other half landed later through AnnIndex.appendPq — encoded
    // against the chain root's PINNED codebooks and published as a
    // delta layer (FAISS add() semantics; the ANN analog of q117's
    // O(delta) band-index append). The probe unions the layers' codes;
    // nothing retrains and no corpus codes are rewritten. The oracle
    // re-derives exactly that lifecycle: books Lloyd-trained on the
    // even half only, ALL vectors encoded with those books.
    "q123_ann_pq_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = freshScratch("graft_annapp") + "/pq"
      graft.operators.AnnIndex.buildPq(e.filter(col("vec_id") % 2 === 0),
        idx, m = 4, subLen = 16, numCodes = 16, trainIters = 2)
      graft.operators.AnnIndex.appendPq(e.filter(col("vec_id") % 2 === 1), idx)
      pqRanked(graft.operators.AnnIndex
        .pqTopK(s, idx, e.filter(col("vec_id") % 100 === 0), k = 5))
    }),

    // The inverted file on disk: corpus assigned to its refined cells
    // once at BUILD time and written partitionBy(cell)
    // (AnnIndex.buildIvfPostings); the multi-probe top-k then reads
    // ONLY the probed cell directories (static partition pruning,
    // plan-asserted in PqSpec) — the piece that makes an IVF probe
    // sub-corpus at 100 TB, vs q89's in-session variant that scans the
    // full corpus relation per probe batch. Same semantics as
    // cellTopKMultiProbe over the refined centroids; the oracle mirrors
    // probe ranking and within-cell top-k from the q87 Lloyd CTEs.
    "q124_ann_ivf_postings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = freshScratch("graft_annpost") + "/ivfp"
      graft.operators.AnnIndex.buildIvfPostings(e, idx, refineIters = 1)
      postingsRanked(graft.operators.AnnIndex
        .postingsTopK(s, idx, e.filter(col("vec_id") % 100 === 0),
          k = 3, nprobe = 2))
    }),

    // The posting store's O(delta) ingest (q124's inverted file +
    // q123's append semantics): centroids trained on the BASE half
    // only, the other half landed later through appendIvfPostings —
    // assigned against the pinned root centroids, published as a
    // parent-linked cell-partitioned layer — then the chain compacted
    // (answer-invariant, no retrain) before the probe. The oracle
    // trains its Lloyd round on the even half (es filtered) and ranks
    // probes corpus-wide, exactly the pinned-quantizer lifecycle.
    "q126_ann_postings_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = freshScratch("graft_annpapp") + "/ivfp"
      graft.operators.AnnIndex.buildIvfPostings(
        e.filter(col("vec_id") % 2 === 0), idx, refineIters = 1)
      graft.operators.AnnIndex.appendIvfPostings(
        e.filter(col("vec_id") % 2 === 1), idx)
      graft.operators.AnnIndex.compactIvfPostings(s, idx)
      postingsRanked(graft.operators.AnnIndex
        .postingsTopK(s, idx, e.filter(col("vec_id") % 100 === 0),
          k = 3, nprobe = 2))
    }),

    // The ANN lifecycle run INSIDE the operational loop (q119's
    // machinery): three scheduler ticks land disjoint embedding deltas
    // — tick 1 trains and publishes the base (day zero), later ticks
    // are O(delta) pinned-codebook appends, and annMaxChain=1 forces an
    // answer-invariant compactPq mid-sequence TWICE — then the probe of
    // the surviving artifact must equal the no-loop truth: books
    // trained on tick 1's third, every vector encoded. Orchestration,
    // batch-stamped idempotence and compaction timing must all be
    // invisible in the answer.
    "q125_daily_loop_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val p = dailyLoop(s, dir, "graft_dailyann") { day =>
        graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(), day.noDocs,
          day.p, day.at,
          // label dropped: this entry gates the PQ side of the tick;
          // the label-carrying posting-store side is q127's job
          embDelta = Some(e.select("vec_id", "embedding")
            .filter(col("vec_id") % 3 === lit(day.d - 1))),
          annMaxChain = 1)
      }
      pqRanked(graft.operators.AnnIndex
        .pqTopK(s, p.ann, e.filter(col("vec_id") % 100 === 0), k = 5))
    }),

    // q125's loop with the posting store engaged: the embedding deltas
    // carry `label`, so each tick ALSO maintains the inverted file —
    // day zero trains centroids on tick 1's third, later ticks append
    // pinned-centroid layers, annMaxChain=1 compacts mid-sequence —
    // and the probe of the surviving store must equal the no-loop
    // truth (q126's SQL under the tick split).
    "q127_daily_loop_postings" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val p = dailyLoop(s, dir, "graft_dailypost") { day =>
        graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(), day.noDocs,
          day.p, day.at,
          embDelta = Some(e.filter(col("vec_id") % 3 === lit(day.d - 1))),
          annMaxChain = 1)
      }
      postingsRanked(graft.operators.AnnIndex
        .postingsTopK(s, p.annPost, e.filter(col("vec_id") % 100 === 0),
          k = 3, nprobe = 2))
    }),

    // The DELETE lifecycle through the dedup stores (q119's loop +
    // removals): three ticks land the corpus, tick 4 REMOVES
    // doc_id % 7 = 0 (tombstones: pairs touching them vanish from the
    // live view that very tick), tick 5 compacts (the deletion becomes
    // physical in store, index and pair snapshot alike). The probe is
    // the live-pair view; the oracle is the pair set over the REMAINING
    // corpus — tombstoning, compaction timing and physical drops must
    // all be invisible in the answer.
    "q128_daily_loop_delete" -> ((s, dir) => {
      val p = dailyLoop(s, dir, "graft_dailydel", days = 5) { day =>
        day.d match {
          case d if d <= 3 =>
            graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(),
              day.docs.filter(col("doc_id") % 3 === lit(d - 1)), day.p, day.at,
              threshold = JaccardThreshold)
          case 4 =>
            graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(), day.noDocs,
              day.p, day.at, threshold = JaccardThreshold,
              docRemovals = Some(day.docs.filter(col("doc_id") % 7 === 0)
                .select("doc_id")))
          case _ =>
            graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(), day.noDocs,
              day.p, day.at, threshold = JaccardThreshold, maxChain = 1)
        }
      }
      graft.streaming.DocsStream.livePairs(s, p.pairs, p.store, 5L)
        .orderBy("a_id", "b_id")
    }),

    // The DELETE lifecycle through the PQ chain: build on the even
    // half, one append lands the odd half AND tombstones vec_id % 10
    // = 0 (the LSM delete), then compaction physically drops the dead
    // codes. Probe truth: books trained on the evens, codes covering
    // everything except the dead ids — deletes must change candidate
    // sets exactly, never rankings of survivors.
    "q129_ann_pq_delete" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = freshScratch("graft_annpqdel") + "/pq"
      graft.operators.AnnIndex.buildPq(e.filter(col("vec_id") % 2 === 0),
        idx, m = 4, subLen = 16, numCodes = 16, trainIters = 2)
      graft.operators.AnnIndex.appendPq(e.filter(col("vec_id") % 2 === 1),
        idx, removals = Some(e.filter(col("vec_id") % 10 === 0)
          .select("vec_id")))
      graft.operators.AnnIndex.compactPq(s, idx)
      pqRanked(graft.operators.AnnIndex
        .pqTopK(s, idx, e.filter(col("vec_id") % 100 === 0), k = 5))
    }),

    // The DELETE lifecycle through the posting store: q126's pinned-
    // centroid append additionally tombstones vec_id % 10 = 0, then the
    // chain compacts — dead ids never surface as candidates and the
    // compacted parquet no longer holds them (PqSpec asserts the
    // physical side; here the oracle gates the answer).
    "q130_ann_postings_delete" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = freshScratch("graft_annpodel") + "/ivfp"
      graft.operators.AnnIndex.buildIvfPostings(
        e.filter(col("vec_id") % 2 === 0), idx, refineIters = 1)
      graft.operators.AnnIndex.appendIvfPostings(
        e.filter(col("vec_id") % 2 === 1), idx,
        removals = Some(e.filter(col("vec_id") % 10 === 0)
          .select("vec_id")))
      graft.operators.AnnIndex.compactIvfPostings(s, idx)
      postingsRanked(graft.operators.AnnIndex
        .postingsTopK(s, idx, e.filter(col("vec_id") % 100 === 0),
          k = 3, nprobe = 2))
    }),

    // The RETRAINING REFRESH as a scheduled quality event (the
    // deliberate re-ranking compactPq's answer-invariance contrasts
    // against): annRefreshEvery=2 makes tick 2 retrain the codebooks
    // from the vector store's live corpus (ticks 1+2) and collapse the
    // chain to a fresh root; tick 3 then appends against the REFRESHED
    // books. Truth: books Lloyd-trained on thirds 0+1, every vector
    // encoded with them — the refresh cadence, the store read-back and
    // the chain collapse must leave exactly that relation.
    "q131_daily_loop_refresh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val p = dailyLoop(s, dir, "graft_dailyref") { day =>
        graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(), day.noDocs,
          day.p, day.at,
          embDelta = Some(e.select("vec_id", "embedding")
            .filter(col("vec_id") % 3 === lit(day.d - 1))),
          annRefreshEvery = 2)
      }
      pqRanked(graft.operators.AnnIndex
        .pqTopK(s, p.ann, e.filter(col("vec_id") % 100 === 0), k = 5))
    }),

    // The vec-DELETE lifecycle INSIDE the operational loop (q125's
    // ticks + q129's tombstones): three ticks land embedding thirds,
    // tick 3 ALSO removes vec_id % 10 = 0 — the tick's append carries
    // the tombstone set, annMaxChain=1 compacts the dead codes away
    // mid-sequence. PQ probe truth: books trained on tick 1's third
    // (removal happens later — training is already published), codes =
    // everything except the dead ids.
    "q133_daily_loop_vec_delete" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val p = dailyLoop(s, dir, "graft_dailyvdel") { day =>
        graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(), day.noDocs,
          day.p, day.at,
          embDelta = Some(e.select("vec_id", "embedding")
            .filter(col("vec_id") % 3 === lit(day.d - 1))),
          annMaxChain = 1,
          vecRemovals = if (day.d == 3)
            Some(e.filter(col("vec_id") % 10 === 0).select("vec_id"))
          else None)
      }
      pqRanked(graft.operators.AnnIndex
        .pqTopK(s, p.ann, e.filter(col("vec_id") % 100 === 1), k = 5))
    }),

    // q133's posting-store side: the labeled deltas maintain the
    // inverted file, tick 3's tombstones remove vec_id % 10 = 0 from
    // it, compaction drops them physically — the probe must equal
    // q127's truth restricted to the surviving ids.
    "q134_daily_loop_postings_delete" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val p = dailyLoop(s, dir, "graft_dailypdel") { day =>
        graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(), day.noDocs,
          day.p, day.at,
          embDelta = Some(e.filter(col("vec_id") % 3 === lit(day.d - 1))),
          annMaxChain = 1,
          vecRemovals = if (day.d == 3)
            Some(e.filter(col("vec_id") % 10 === 0).select("vec_id"))
          else None)
      }
      postingsRanked(graft.operators.AnnIndex
        .postingsTopK(s, p.annPost, e.filter(col("vec_id") % 100 === 1),
          k = 3, nprobe = 2))
    }),

    // REFRESH × DELETE interaction: tick 2 both removes vec_id % 10 = 0
    // AND hits the refresh cadence — the retrain must read the vector
    // store AFTER the tick's tombstones land (ordering inside the
    // tick), so the fresh books are trained on the LIVE thirds 0+1 and
    // the dead ids are out of the chain without any tombs layer. Tick 3
    // appends the (upstream-respecting) live remainder against the
    // refreshed books. Truth: books on live thirds 0+1, codes = all
    // live vectors.
    "q135_daily_loop_refresh_delete" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val dead = e.filter(col("vec_id") % 10 === 0).select("vec_id")
      val p = dailyLoop(s, dir, "graft_dailyrefdel") { day =>
        val third = e.select("vec_id", "embedding")
          .filter(col("vec_id") % 3 === lit(day.d - 1))
        graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(), day.noDocs,
          day.p, day.at,
          embDelta = Some(
            if (day.d == 3) third.join(dead, Seq("vec_id"), "left_anti")
            else third),
          annRefreshEvery = 2,
          vecRemovals = if (day.d == 2) Some(dead) else None)
      }
      pqRanked(graft.operators.AnnIndex
        .pqTopK(s, p.ann, e.filter(col("vec_id") % 100 === 1), k = 5))
    }),

    // q135's POSTING-STORE side — the refresh × delete interaction on
    // the inverted file (the one surface q135 left ungated): the
    // labeled deltas maintain the posting store; tick 2 both removes
    // vec_id % 10 = 0 AND hits the refresh cadence, so the retrain
    // must read the vector store AFTER the tick's tombstones land —
    // centroids re-seeded from the LIVE labeled rows (thirds 0+1 minus
    // dead) and postings rebuilt over exactly the live corpus, dead
    // ids out without any tombs layer. Tick 3 appends the live
    // remainder against the refreshed centroids.
    "q136_daily_loop_postings_refresh_delete" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val dead = e.filter(col("vec_id") % 10 === 0).select("vec_id")
      val p = dailyLoop(s, dir, "graft_dailyprefdel") { day =>
        val third = e.filter(col("vec_id") % 3 === lit(day.d - 1))
        graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(), day.noDocs,
          day.p, day.at,
          embDelta = Some(
            if (day.d == 3) third.join(dead, Seq("vec_id"), "left_anti")
            else third),
          annRefreshEvery = 2,
          vecRemovals = if (day.d == 2) Some(dead) else None)
      }
      postingsRanked(graft.operators.AnnIndex
        .postingsTopK(s, p.annPost, e.filter(col("vec_id") % 100 === 1),
          k = 3, nprobe = 2))
    }),

    // A LONG uncompacted chain under continuous deletion — the shape
    // the per-layer tombstone cost question is about: root + 8 delta
    // layers, EVERY append carrying a tombstone set (layer d removes
    // the %10=3 residue of slice d-1), probed with no compaction ever.
    // The fold must stay one anti-join probe per data row (PqSpec
    // asserts the plan shape; this entry pins the measured cost trend
    // in PLANS.md) and the answer must equal a one-shot encode of the
    // survivors: every id except the tombstoned residue classes.
    "q137_ann_pq_chain8" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = freshScratch("graft_annchain8") + "/pq"
      graft.operators.AnnIndex.buildPq(e.filter(col("vec_id") % 9 === 0),
        idx, m = 4, subLen = 16, numCodes = 16, trainIters = 2)
      (1 to 8).foreach { d =>
        graft.operators.AnnIndex.appendPq(
          e.filter(col("vec_id") % 9 === d), idx,
          removals = Some(e.filter(col("vec_id") % 9 === (d - 1) &&
            col("vec_id") % 10 === 3).select("vec_id")))
      }
      pqRanked(graft.operators.AnnIndex
        .pqTopK(s, idx, e.filter(col("vec_id") % 100 === 0), k = 5))
    }),

    // q131's refresh lifecycle with the retrain's Lloyd passes bounded
    // to a deterministic hash sample (trainSampleMax=64): tick 2's
    // refresh trains codebooks on the ~64 live vectors whose
    // multiplicative hash clears ceil(64*2^20/n) — a pure function of
    // the id set, restated verbatim in the oracle SQL — while the
    // encode still covers the whole store. Truth: Lloyd on exactly
    // that sample (init ids = the sample's first 16), every vector
    // encoded under the sampled books. This is the knob that turns the
    // O(corpus) refresh retrain into O(sample) train + one O(corpus)
    // encode pass; PqSpec pins the recall cost vs the full retrain.
    "q138_daily_loop_refresh_sampled" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val p = dailyLoop(s, dir, "graft_dailyrefs") { day =>
        graft.DailyLoop.runTick(s, graft.CvePipeline.Landing(), day.noDocs,
          day.p, day.at,
          embDelta = Some(e.select("vec_id", "embedding")
            .filter(col("vec_id") % 3 === lit(day.d - 1))),
          annRefreshEvery = 2, trainSampleMax = 64L)
      }
      pqRanked(graft.operators.AnnIndex
        .pqTopK(s, p.ann, e.filter(col("vec_id") % 100 === 0), k = 5))
    }),

    // q124's probe with a FIXED-SIZE query batch (first 600 ids): the
    // %100 entries' query COUNT grows with the corpus, so their totals
    // scale ~N²/100 by construction — this entry isolates the claim
    // that actually matters at 100 TB, per-query probe cost: a fixed
    // batch against a growing corpus reads only its nprobe cell
    // directories, so the trend should track cell size, not N².
    "q132_ann_postings_fixedq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = freshScratch("graft_annfixq") + "/ivfp"
      graft.operators.AnnIndex.buildIvfPostings(e, idx, refineIters = 1)
      postingsRanked(graft.operators.AnnIndex
        .postingsTopK(s, idx, e.orderBy("vec_id").limit(600),
          k = 3, nprobe = 2))
    }),

    // q61's flat PQ-ADC scan with the SAME fixed-size query batch as
    // q132 (first 600 ids): the q61-class entries (q61/q120/q123/q125/
    // q129/q133) sample queries at %100, so their decade totals scale
    // ~N²/100 by benchmark construction — query COUNT × per-query scan
    // both grow. This twin pins the per-query ADC cost alone: a fixed
    // batch against a growing code table isolates the O(corpus·m) LUT
    // join each single query actually pays at 100 TB (the flat-scan
    // honest cost; q86's IVFADC is the composed scale path).
    "q139_ann_pq_fixedq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      pqRanked(Similarity.pqTopK(e, e.orderBy("vec_id").limit(600), k = 5))
    }),

    // q86's COMPOSED IVFADC path with the same fixed 600-id query batch
    // as q132/q139 — completes the fixed-query triptych: q132 pins the
    // posting probe's per-query cost, q139 the flat ADC scan's, and
    // this one the coarse-restricted + ADC plan a 100 TB deployment
    // actually runs per query batch (per query: one cell's m-byte code
    // rows, never raw floats, never other cells).
    "q140_ann_ivfpq_fixedq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      pqRanked(Similarity.ivfPqTopK(e, e.orderBy("vec_id").limit(600), k = 3))
    }),

    // Coreset / diversity sampling over embeddings: after IVF assignment,
    // keep the k most-central vectors per cell — the centroid-stratified
    // sample a curation pipeline feeds to expensive downstream scoring.
    // Same scale shape as q47 (broadcast centroids, corpus stationary)
    // plus one window shuffle on the cell id.
    "q60_coreset_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val units = Similarity.unitVectors(
        t(s, dir, "embeddings"), Seq("vec_id" -> "id", "label" -> "cell"))
      val cents = Similarity.exactCentroids(units, "cell", "unit")
      val w = Window.partitionBy(col("assigned_cell"))
        .orderBy(col("cell_sim").desc, col("id").asc)
      Similarity.assignCellsAgg(units, cents)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("id"), col("assigned_cell").cast("long").as("assigned_cell"),
                col("rk").cast("long").as("rk"),
                round(col("cell_sim"), 6).as("cell_sim"))
        .orderBy("assigned_cell", "rk")
    }),

    // Multimodal encode→decode round-trip through the REAL pure-JVM
    // codecs (BMP/PNG via javax.imageio, WAV via javax.sound.sampled):
    // a deterministic per-doc spec chooses format and dimensions, the
    // encode stage writes genuine container bytes, the decode stage
    // sniffs magic and decodes them back. The oracle restates the spec
    // arithmetic — hash-green only if every payload round-trips to
    // exactly the dims it was encoded with, so a codec defect (wrong
    // band count, frame miscount, sniff miss → opaque fallback) breaks
    // the match. Both codec stages are mapPartitions: payloads never
    // leave the executors, codec state is per-partition.
    "q46_multimodal_decode" -> ((s, dir) => {
      import graft.operators.Multimodal
      val spec = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        element_at(array(lit("bmp"), lit("png"), lit("wav")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        (col("doc_id") % 7 + 4).cast("int").as("w"),
        (col("doc_id") % 5 + 3).cast("int").as("h"),
        (col("doc_id") % 50 + 10).cast("int").as("n"))
      Multimodal.decode(Multimodal.encodeMedia(spec), dim = 8)
        .select(col("media_id"), col("kind"),
                col("width").cast("long").as("width"),
                col("height").cast("long").as("height"),
                col("channels").cast("long").as("channels"),
                col("n_samples").cast("long").as("n_samples"),
                col("sample_rate").cast("long").as("sample_rate"))
        .orderBy("media_id")
    }),

    // The batched scorer (the model-inference stage) oracle-gated
    // END-TO-END on the WAV slice of q46's media spec: encode (real RIFF
    // writer) → decode (real javax.sound codec) → batchScore (linear
    // probe, ordered double fold). The WAV sample generator is plain
    // integer arithmetic, so DuckDB re-derives the decoded features —
    // including the float32 rounding of each per-bucket mean — and the
    // probe score, pinning codec + feature math + scorer in one hash.
    // Image rows stay metadata-gated in q46 (their pixel path crosses
    // the PNG container; same decode code, spec-gated bit-stability).
    "q122_multimodal_batch_score" -> ((s, dir) => {
      import graft.operators.Multimodal
      val spec = t(s, dir, "documents")
        .filter(col("doc_id") % 3 === 2) // q46's WAV rows
        .select(col("doc_id").as("media_id"), lit("wav").as("kind"),
                lit(0).as("w"), lit(0).as("h"),
                (col("doc_id") % 50 + 10).cast("int").as("n"))
      val decoded = Multimodal.decode(Multimodal.encodeMedia(spec), dim = 8)
      Multimodal.batchScore(decoded, weights = (1 to 8).map(_.toDouble))
        .select(col("media_id"), round(col("score"), 6).as("score"))
        .orderBy("media_id")
    }),

    // HLL distinct. At 100 TB this replaces count(distinct) everywhere
    // feasible. The sketch estimate itself is engine-specific, so the
    // OUTPUT is the bound check: exact distinct (cross-engine, DuckDB-
    // verified) + within_bound = |approx − exact| ≤ 3·rsd·exact, checked
    // IN PLAN — an HLL drift past the bound flips the flag and fails the
    // oracle hash. (The exact twin rides along only to gate; production
    // callers use the approx column alone.)
    "q42_hll_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), HllRsd).as("approx_parts"),
             countDistinct(col("l_partkey")).as("exact_parts"),
             count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("exact_parts"), col("cnt"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double")
             <= lit(3.0 * HllRsd) * col("exact_parts").cast("double"))
            .cast("long").as("within_bound"))
        .orderBy("l_returnflag")
    }),

    // Approximate quantiles: one pass, mergeable fixed-size sketches —
    // at 100 TB this replaces the exact order-statistic scan (q59 is the
    // exact nearest-rank twin). The sketch values are engine-specific,
    // so the OUTPUT is the RANK-BOUND check, evaluated in plan: for each
    // φ the returned value's rank window [#(x<v)+1, #(x≤v)] must land
    // within n·(φ ± 1/acc) (±1 row of floor/ceil slack) — a sketch
    // exceeding its guarantee flips the flag and fails the oracle hash.
    "q90_approx_quantiles" -> ((s, dir) => {
      val eps = 1.0 / QuantileAcc
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
      Dedup.withPersisted(li) { d => // two consumers: sketch + rank count
        val phis = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75")
        val ap = d.groupBy(col("l_returnflag"))
          .agg(percentile_approx(col("l_extendedprice"),
                 array(lit(0.25), lit(0.5), lit(0.75)), lit(QuantileAcc)).as("qs"),
               count(lit(1)).as("cnt"))
          .select(Seq(col("l_returnflag"), col("cnt")) ++
            phis.zipWithIndex.map { case ((_, nm), i) =>
              element_at(col("qs"), i + 1).as(s"v_$nm") }: _*)
        val rankAggs = phis.flatMap { case (_, nm) => Seq(
          sum(when(col("l_extendedprice") <= col(s"v_$nm"), 1L)
            .otherwise(0L)).as(s"le_$nm"),
          sum(when(col("l_extendedprice") < col(s"v_$nm"), 1L)
            .otherwise(0L)).as(s"lt_$nm")) }
        val counted = d.join(broadcast(ap), Seq("l_returnflag"))
          .groupBy(Seq("l_returnflag", "cnt").map(col) ++
                   phis.map { case (_, nm) => col(s"v_$nm") }: _*)
          .agg(rankAggs.head, rankAggs.tail: _*)
        val bounds = phis.map { case (phi, nm) =>
          ((col(s"le_$nm").cast("double")
              >= lit(phi - eps) * col("cnt").cast("double") - 1.0) &&
           (col(s"lt_$nm").cast("double")
              <= lit(phi + eps) * col("cnt").cast("double") + 1.0))
            .cast("long").as(s"within_$nm") }
        counted.select(Seq(col("l_returnflag"), col("cnt")) ++ bounds: _*)
          .orderBy("l_returnflag")
      }
    })
  )

  // ---------------------------------------------------------------- oracle

  /** Shared shingle CTE: trigram shingles over lowercased whitespace
    * tokens, distinct per doc — mirrors Dedup.shingleSets exactly. */
  private[queries] val shingleCte =
    """toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tokens FROM documents),
       sh AS (SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(tokens) >= 3
                     THEN list_transform(range(1, len(tokens)-1),
                            i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))
                     ELSE CAST([] AS VARCHAR[]) END)) AS shingle FROM toks),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)"""

  private val pairsCte =
    s"""$shingleCte,
        inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
                  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (SELECT a_id, b_id,
                         CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
                  FROM inter JOIN sizes sa ON a_id = sa.doc_id
                             JOIN sizes sb ON b_id = sb.doc_id
                  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE)
                        >= $JaccardThreshold)"""

  private val jaccardSql =
    s"""WITH $pairsCte
        SELECT a_id, b_id, jaccard FROM pairs ORDER BY a_id, b_id"""

  /** Ordered-fold double dot product — bitwise-identical to Spark's
    * aggregate(zip_with(...)) left fold. */
  private def foldDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), p -> p[1]*p[2])), (x,y) -> x+y)"
  private def foldNorm(a: String): String =
    s"sqrt(list_reduce(list_prepend(0.0, list_transform($a, x -> x*x)), (x,y) -> x+y))"

  /** Unit-vector CTE mirroring Similarity.unitVectors: normalize once,
    * then similarity is a single dot fold. */
  private val unitCte =
    s"""ev AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        e AS (SELECT vec_id, label, list_transform(v, x -> x / n) AS u
              FROM (SELECT vec_id, label, v, ${foldNorm("v")} AS n FROM ev))"""

  /** One unrolled Lloyd round over the PQ subvectors: assign each (vec,
    * sub) to its nearest code in `prev` (fold-dot, tie → code asc), then
    * exact-decimal per-dimension means; codes with no members keep their
    * previous centroid. Mirrors Similarity.pqTrain's loop body exactly. */
  private def lloydRoundSql(i: Int, prev: String): String =
    lloydRoundSqlOn(i, prev, "subs")

  /** [[lloydRoundSql]] with the TRAINING relation parameterized — the
    * q123 oracle trains its books on the base half only (`tsubs`) while
    * encoding the full corpus, mirroring AnnIndex.appendPq's pinned-
    * codebook ingest. */
  private def lloydRoundSqlOn(i: Int, prev: String, train: String): String =
    s"""a$i AS (
          SELECT vec_id, sub, code FROM (
            SELECT s.vec_id, s.sub, b.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                                      ORDER BY ${foldDot("s.sv", "b.code_vec")} DESC,
                                               b.code ASC) AS rn
            FROM $train s JOIN $prev b ON s.sub = b.sub)
          WHERE rn = 1),
        f$i AS (SELECT a.sub, a.code, generate_subscripts(s.sv, 1) AS pos,
                       unnest(s.sv) AS val
                FROM $train s JOIN a$i a ON s.vec_id = a.vec_id AND s.sub = a.sub),
        d$i AS (SELECT sub, code, pos,
                       CAST(SUM(CAST(val AS DECIMAL(28,16))) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE) AS cv
                FROM f$i GROUP BY 1, 2, 3),
        n$i AS (SELECT sub, code, list(cv ORDER BY pos) AS new_vec
                FROM d$i GROUP BY 1, 2),
        b$i AS (SELECT b.sub, b.code, COALESCE(n.new_vec, b.code_vec) AS code_vec
                FROM $prev b LEFT JOIN n$i n ON b.sub = n.sub AND b.code = n.code)"""

  /** One exact-decimal Lloyd round over full vectors from an arbitrary
    * seed relation — mirrors Similarity.kmeansRefineExact(units,
    * exactCentroids, 1). Expects a CTE `es(vec_id, u, scell)` upstream;
    * `es` is BOTH the seed source and the Lloyd TRAINING set (seeding,
    * a0 assignment and the cents1 means all draw from it), while sims1
    * ranks the FULL corpus `e` against the trained centroids — so a
    * consumer that filters `es` (q126 trains on the even half) gets
    * subset-trained centroids with corpus-wide probe rows, and the
    * usual consumers (es = all of e: [[kmeansRefineCtes]], auto-k
    * q116) are unchanged. Emits cents0/a0/cents1/sims1. */
  private val kmeansRefineFromSeeds: String =
    s"""flat AS (SELECT scell AS cell, generate_subscripts(u, 1) AS pos,
                        unnest(u) AS val FROM es),
        cdim AS (SELECT cell, pos,
                        CAST(SUM(CAST(val AS DECIMAL(28,16))) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE) AS cv
                 FROM flat GROUP BY 1, 2),
        cents0 AS (SELECT cell, list(cv ORDER BY pos) AS centroid
                   FROM cdim GROUP BY cell),
        a0 AS (SELECT id, cell AS acell
               FROM (SELECT t.vec_id AS id, c.cell,
                            ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY ${foldDot("t.u", "c.centroid")} DESC,
                                       c.cell ASC) AS rn
                     FROM es t CROSS JOIN cents0 c)
               WHERE rn = 1),
        flat1 AS (SELECT a0.acell AS cell, generate_subscripts(t.u, 1) AS pos,
                         unnest(t.u) AS val
                  FROM es t JOIN a0 ON t.vec_id = a0.id),
        cdim1 AS (SELECT cell, pos,
                         CAST(SUM(CAST(val AS DECIMAL(28,16))) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE) AS cv
                  FROM flat1 GROUP BY 1, 2),
        cents1 AS (SELECT cell, list(cv ORDER BY pos) AS centroid
                   FROM cdim1 GROUP BY cell),
        sims1 AS (SELECT e.vec_id AS id, c.cell,
                         ${foldDot("e.u", "c.centroid")} AS sim
                  FROM e CROSS JOIN cents1 c)"""

  /** The label-cell seeding of [[kmeansRefineFromSeeds]] — shared by q87
    * (refined assignment), q88/q89 (recall with refined cells) and q107. */
  private val kmeansRefineCtes: String =
    s"""es AS (SELECT vec_id, u, label AS scell FROM e),
        $kmeansRefineFromSeeds"""

  /** Coarse-quantized auto-k mirror of Similarity.semDedupAutoKRemovals
    * (with AUTO-C on), ending in `a1(id, acell, sim)` — the final
    * restricted assignment. Parameterized by the ladder's LEVEL-TARGET
    * list (r18 verdict task 2), so the ENGAGED recursion itself can sit
    * under the hash gate — q116/q141 instantiate the single-level form
    * `Seq(coarseTarget)` (the fixture's max coarse population, 66 at
    * sf0.01, is far under coarseTarget² = 1024 and the LadderRowsFloor
    * work gate, so the engine provably runs one level there), while
    * q143 instantiates `Seq(25, 5)` — exactly what
    * `Similarity.ladderTargets(66, 500, 5, 0)` decides on the same
    * fixture (spec-pinned), so the L=2 CTE chain mirrors a chain that
    * REALLY recursed.
    *  - ccents/ca: label-seeded exact-decimal centroids and ONE
    *    geometric assign (q87's init layer) → each vector's coarse cell;
    *  - per level n at target t (coarsest first):
    *    - sentN: withAutoCells' NULL-cell sentinel — MAX(coarse)+1 (0
    *      on an all-NULL corpus), the data-derived id under which a
    *      NULL coarse population id-mod subdivides like every labeled
    *      one (r18; collision-free because it exceeds every live
    *      cell); an identity past level 1 (assigned ids are never
    *      NULL), mirrored anyway because the engine computes it;
    *    - popsN/seedN: AUTO-C subdivision — sub-seed =
    *      COALESCE(coarse, sentinel) · SplitCap + id mod ceil(pop/t);
    *    - scentsN/asgN: exact-decimal sub-seed means and one
    *      RESTRICTED geometric re-assign (`coarse IS NOT DISTINCT
    *      FROM cell // SplitCap`);
    *    - between levels only: dmapN/lvlN — densifyCells' DENSE_RANK
    *      relabel over the DISTINCT live cells (ASC = NULLS LAST on
    *      both engines), so the next level's composites grow with live
    *      cell counts, not SplitCap^depth; the LAST level's raw
    *      composites feed auto-k directly, as in the engine;
    *  - ca2: the refined coarse cell every later stage keys on;
    *  - cpops/es: withAutoCells on the REFINED coarse id — composite
    *    sub-seed = coarse · SplitCap + id mod ceil(pop/targetCell); the
    *    sentinel stage is the identity here (assigned ids are never
    *    NULL) and is elided;
    *  - cents0/a0/cents1/a1: one exact-decimal Lloyd round where every
    *    assign joins on `coarse = cell // SplitCap` instead of CROSS
    *    JOIN — the restriction that keeps the Spark plan out of the
    *    O(N²/targetCell) class, restated so DuckDB scores the identical
    *    (vector, sub-centroid) pairs. Spark's top-1 is an aggregated
    *    max over (sim, -cell); the ROW_NUMBER (sim DESC, cell ASC) here
    *    selects the same row — the ordering key is unique per id. `a1`
    *    carries the winning sim so q141 can expose the assignment.
    * Every coarse-key join stays IS NOT DISTINCT FROM, mirroring
    * Spark's `<=>` — post-sentinel no NULL reaches them, but the
    * robustness contract is kept aligned on both engines. */
  private def autoCoarseCtes(targetCell: Long, levels: Seq[Long]): String = {
    require(levels.nonEmpty, "autoCoarseCtes: at least one ladder level")
    val levelCtes = levels.zipWithIndex.map { case (t, i) =>
      val n = i + 1
      val prev = if (i == 0) "ca" else s"lvl$i"
      val assign =
        s"""sent$n AS (SELECT COALESCE(MAX(coarse) + 1, 0) AS s FROM $prev),
        pops$n AS (SELECT coarse, COUNT(*) AS n FROM $prev GROUP BY 1),
        seed$n AS (SELECT e.vec_id AS id, e.u,
                          COALESCE(p0.coarse, cs.s) AS coarse,
                          COALESCE(p0.coarse, cs.s) * ${Similarity.SplitCap}
                          + (e.vec_id % ((p.n + ${t - 1L}) // $t)) AS c2cell
                   FROM e JOIN $prev p0 ON e.vec_id = p0.id
                          JOIN pops$n p
                            ON p0.coarse IS NOT DISTINCT FROM p.coarse
                          CROSS JOIN sent$n cs),
        sflat$n AS (SELECT c2cell AS cell, generate_subscripts(u, 1) AS pos,
                           unnest(u) AS val FROM seed$n),
        sdim$n AS (SELECT cell, pos,
                          CAST(SUM(CAST(val AS DECIMAL(28,16))) AS DOUBLE)
                            / CAST(COUNT(*) AS DOUBLE) AS cv
                   FROM sflat$n GROUP BY 1, 2),
        scents$n AS (SELECT cell, list(cv ORDER BY pos) AS centroid
                     FROM sdim$n GROUP BY cell),
        asg$n AS (SELECT id, cell AS coarse FROM (
                    SELECT t.id, c.cell,
                           ROW_NUMBER() OVER (PARTITION BY t.id
                             ORDER BY ${foldDot("t.u", "c.centroid")} DESC,
                                      c.cell ASC) AS rn
                    FROM seed$n t JOIN scents$n c
                      ON t.coarse IS NOT DISTINCT FROM
                         c.cell // ${Similarity.SplitCap})
                  WHERE rn = 1)"""
      val relabel = if (n < levels.size)
        s""",
        dmap$n AS (SELECT coarse AS dfrom,
                          CAST(DENSE_RANK() OVER (ORDER BY coarse ASC) - 1
                               AS BIGINT) AS dto
                   FROM (SELECT DISTINCT coarse FROM asg$n)),
        lvl$n AS (SELECT a.id, d.dto AS coarse
                  FROM asg$n a JOIN dmap$n d
                    ON a.coarse IS NOT DISTINCT FROM d.dfrom)"""
      else
        s""",
        lvl$n AS (SELECT id, coarse FROM asg$n)"""
      assign + relabel
    }.mkString(",\n        ")
    s"""cflat AS (SELECT label AS cell, generate_subscripts(u, 1) AS pos,
                         unnest(u) AS val FROM e),
        ccdim AS (SELECT cell, pos,
                         CAST(SUM(CAST(val AS DECIMAL(28,16))) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE) AS cv
                  FROM cflat GROUP BY 1, 2),
        ccents AS (SELECT cell, list(cv ORDER BY pos) AS centroid
                   FROM ccdim GROUP BY cell),
        ca AS (SELECT id, cell AS coarse FROM (
                 SELECT t.vec_id AS id, c.cell,
                        ROW_NUMBER() OVER (PARTITION BY t.vec_id
                          ORDER BY ${foldDot("t.u", "c.centroid")} DESC,
                                   c.cell ASC) AS rn
                 FROM e t CROSS JOIN ccents c)
               WHERE rn = 1),
        $levelCtes,
        ca2 AS (SELECT id, coarse FROM lvl${levels.size}),
        cpops AS (SELECT coarse, COUNT(*) AS n FROM ca2 GROUP BY 1),
        es AS (SELECT e.vec_id, e.u, ca2.coarse,
                      ca2.coarse * ${Similarity.SplitCap}
                      + (e.vec_id % ((p.n + ${targetCell - 1L}) // $targetCell))
                        AS scell
               FROM e JOIN ca2 ON e.vec_id = ca2.id
                      JOIN cpops p
                        ON ca2.coarse IS NOT DISTINCT FROM p.coarse),
        flat AS (SELECT scell AS cell, generate_subscripts(u, 1) AS pos,
                        unnest(u) AS val FROM es),
        cdim AS (SELECT cell, pos,
                        CAST(SUM(CAST(val AS DECIMAL(28,16))) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE) AS cv
                 FROM flat GROUP BY 1, 2),
        cents0 AS (SELECT cell, list(cv ORDER BY pos) AS centroid
                   FROM cdim GROUP BY cell),
        a0 AS (SELECT id, cell AS acell FROM (
                 SELECT t.vec_id AS id, c.cell,
                        ROW_NUMBER() OVER (PARTITION BY t.vec_id
                          ORDER BY ${foldDot("t.u", "c.centroid")} DESC,
                                   c.cell ASC) AS rn
                 FROM es t JOIN cents0 c
                   ON t.coarse IS NOT DISTINCT FROM
                      c.cell // ${Similarity.SplitCap})
               WHERE rn = 1),
        flat1 AS (SELECT a0.acell AS cell, generate_subscripts(t.u, 1) AS pos,
                         unnest(t.u) AS val
                  FROM es t JOIN a0 ON t.vec_id = a0.id),
        cdim1 AS (SELECT cell, pos,
                         CAST(SUM(CAST(val AS DECIMAL(28,16))) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE) AS cv
                  FROM flat1 GROUP BY 1, 2),
        cents1 AS (SELECT cell, list(cv ORDER BY pos) AS centroid
                   FROM cdim1 GROUP BY cell),
        a1 AS (SELECT id, cell AS acell, sim FROM (
                 SELECT t.vec_id AS id, c.cell,
                        ${foldDot("t.u", "c.centroid")} AS sim,
                        ROW_NUMBER() OVER (PARTITION BY t.vec_id
                          ORDER BY ${foldDot("t.u", "c.centroid")} DESC,
                                   c.cell ASC) AS rn
                 FROM es t JOIN cents1 c
                   ON t.coarse IS NOT DISTINCT FROM
                      c.cell // ${Similarity.SplitCap})
               WHERE rn = 1)"""
  }

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")
  private def hitSql(words: Seq[String]): String =
    s"CAST(len(list_filter(tokens, t -> list_contains(${sqlList(words)}, t))) AS BIGINT)"

  /** The pinned-codebook PQ truth with the TRAINING set as a parameter:
    * books Lloyd-trained (init = the first 16 training ids) on the
    * vectors passing the SQL predicate `train`, while the ENCODE covers
    * every vector; top-5 ADC over the %100 query sample. Mirrors
    * AnnIndex.appendPq's ingest against the root's books. */
  private def pqTrainedOnSql(train: String): String =
    s"""WITH $unitCte,
        subs AS (
          SELECT vec_id, sub, u[sub*16+1 : sub*16+16] AS sv
          FROM e, (SELECT unnest(range(0, 4)) AS sub)),
        tsubs AS (SELECT * FROM subs WHERE $train),
        b0 AS (
          SELECT sub, ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                   AS code, sv AS code_vec
          FROM tsubs
          WHERE vec_id IN (SELECT vec_id FROM e WHERE $train
                           ORDER BY vec_id LIMIT 16)),
        ${lloydRoundSqlOn(1, "b0", "tsubs")},
        ${lloydRoundSqlOn(2, "b1", "tsubs")},
        books AS (SELECT * FROM b2),
        codes AS (
          SELECT vec_id AS cand_id, sub, code FROM (
            SELECT s.vec_id, s.sub, b.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                                      ORDER BY ${foldDot("s.sv", "b.code_vec")} DESC,
                                               b.code ASC) AS rn
            FROM subs s JOIN books b ON s.sub = b.sub)
          WHERE rn = 1),
        lut AS (
          SELECT q.vec_id AS query_id, b.sub, b.code,
                 ${foldDot("q.sv", "b.code_vec")} AS l
          FROM (SELECT * FROM subs WHERE vec_id % 100 = 0) q
          JOIN books b ON q.sub = b.sub),
        adc AS (
          SELECT lut.query_id, c.cand_id,
                 CAST(SUM(CAST(lut.l AS DECIMAL(28,16))) AS DOUBLE) AS approx_sim
          FROM codes c JOIN lut ON c.sub = lut.sub AND c.code = lut.code
          WHERE c.cand_id <> lut.query_id
          GROUP BY 1, 2)
        SELECT query_id, cand_id, CAST(rank AS BIGINT) AS rank,
               ROUND(approx_sim, 6) AS approx_sim
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY approx_sim DESC, cand_id ASC)
                          AS rank
              FROM adc)
        WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Multi-probe top-k from the q87 Lloyd CTEs: each query's two best
    * refined cells (sim desc, cell asc — cellTopKMultiProbe's probe
    * order), candidates = vectors ASSIGNED to a probed cell, ranked by
    * the exact fold-dot within the probed union. Mirrors
    * AnnIndex.postingsTopK including self-exclusion and tie-breaks.
    * `train` (a SQL predicate, None = every vector) restricts the Lloyd
    * TRAINING relation (es); sims1 still ranks every vector, so the
    * assignment covers base and appended layers alike. */
  private def postingsTrainedOnSql(train: Option[String]): String =
    s"""WITH $unitCte,
        es AS (SELECT vec_id, u, label AS scell FROM e${train.fold("")(" WHERE " + _)}),
        $kmeansRefineFromSeeds,
        a1 AS (SELECT id, cell AS acell FROM (
                 SELECT id, cell,
                        ROW_NUMBER() OVER (PARTITION BY id
                                           ORDER BY sim DESC, cell ASC) AS rn
                 FROM sims1)
               WHERE rn = 1),
        probes AS (SELECT id AS query_id, cell AS pcell FROM (
                     SELECT id, cell,
                            ROW_NUMBER() OVER (PARTITION BY id
                                               ORDER BY sim DESC, cell ASC) AS rn
                     FROM sims1 WHERE id % 100 = 0)
                   WHERE rn <= 2),
        cand AS (SELECT p.query_id, c.vec_id AS cand_id,
                        ${foldDot("q.u", "c.u")} AS sim
                 FROM probes p
                 JOIN e q ON q.vec_id = p.query_id
                 JOIN a1 ON a1.acell = p.pcell
                 JOIN e c ON c.vec_id = a1.id AND c.vec_id <> p.query_id)
        SELECT query_id, cand_id, ROUND(sim, 6) AS sim,
               CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY sim DESC, cand_id ASC)
                          AS rank
              FROM cand)
        WHERE rank <= 3 ORDER BY query_id, rank"""

  // oracle0 is declared below oracle in the source — lazy breaks the
  // object-init ordering dependency.
  val oracle: Map[String, String] = withDeleteOracles(oracle0 ++ Map(
    // Persisted-artifact probes must equal their in-session twins
    // bit-for-bit — same oracle, different lifecycle (see AnnIndex).
    "q120_ann_pq_persisted"  -> oracle0("q61_ann_pq"),
    "q121_ann_ivf_persisted" -> oracle0("q87_kmeans_refine"),

    // q61's construction with the TRAINING set restricted to the even
    // half (the base build) while the ENCODE covers every vector — the
    // pinned-codebook delta-append lifecycle re-derived end-to-end.
    "q123_ann_pq_append" -> pqTrainedOnSql("vec_id % 2 = 0"),

    // q123's lifecycle under the LOOP's tick split: training set =
    // tick 1's delta (vec_id % 3 = 0), encode = everything. The loop's
    // appends and compactions must leave exactly this relation behind.
    "q125_daily_loop_ann" -> pqTrainedOnSql("vec_id % 3 = 0"),

    // q124's probe over a SUBSET-trained quantizer: the Lloyd training
    // relation (es) is the even half.
    "q126_ann_postings_append" -> postingsTrainedOnSql(Some("vec_id % 2 = 0")),

    // q126's subset-trained probe under the loop's tick split: the
    // training relation is tick 1's third.
    "q127_daily_loop_postings" -> postingsTrainedOnSql(Some("vec_id % 3 = 0")),

    // the probe trained on the whole corpus (es = all of e)
    "q124_ann_ivf_postings" -> postingsTrainedOnSql(None)))

  /** The delete-lifecycle oracles are their parents' constructions over
    * a RESTRICTED relation — q128 is q119's pair truth with the removed
    * docs gone from the corpus, q129/q130 are q123/q126 with the dead
    * ids gone from the encoded/assigned side (training sets unchanged:
    * the quantizers were built before the deletes). Deriving them
    * textually from the parent SQL (or from the family's builder where
    * only the training filter differs) keeps the single source of truth —
    * a drift in the parent construction cannot silently diverge from
    * its delete twin. */
  private def withDeleteOracles(base: Map[String, String]): Map[String, String] = {
    // the refresh truth is q125's lifecycle with the training set
    // widened to the refresh tick's live corpus (thirds 0+1)
    val refreshSql = pqTrainedOnSql("vec_id % 3 <> 2")
    base ++ Map(
      // refresh × delete: training restricted to the LIVE thirds 0+1
      // (the tick's tombstones land before the retrain reads the
      // store), codes restricted to live ids, query sample off the
      // removed residue class
      "q135_daily_loop_refresh_delete" ->
        pqTrainedOnSql("vec_id % 3 <> 2 AND vec_id % 10 <> 0")
        .replace("FROM subs s JOIN books b ON s.sub = b.sub)",
          "FROM subs s JOIN books b ON s.sub = b.sub " +
            "WHERE s.vec_id % 10 <> 0)")
        .replace("WHERE vec_id % 100 = 0", "WHERE vec_id % 100 = 1"),
      "q128_daily_loop_delete" -> base("q119_daily_loop_dedup").replace(
        "FROM documents)",
        "FROM (SELECT * FROM documents WHERE doc_id % 7 <> 0))"),
      "q129_ann_pq_delete" -> base("q123_ann_pq_append").replace(
        "FROM subs s JOIN books b ON s.sub = b.sub)",
        "FROM subs s JOIN books b ON s.sub = b.sub WHERE s.vec_id % 10 <> 0)"),
      // the long-chain truth: q123's construction trained on slice
      // %9=0, codes = survivors of eight per-layer tombstone sets —
      // dead iff the id sits in slices 0..7 AND the %10=3 residue
      // (slice 8's residue is never tombstoned by a newer layer)
      "q137_ann_pq_chain8" -> pqTrainedOnSql("vec_id % 9 = 0")
        .replace("FROM subs s JOIN books b ON s.sub = b.sub)",
          "FROM subs s JOIN books b ON s.sub = b.sub " +
            "WHERE s.vec_id % 9 = 8 OR s.vec_id % 10 <> 3)"),
      "q130_ann_postings_delete" -> base("q126_ann_postings_append").replace(
        "JOIN e c ON c.vec_id = a1.id AND c.vec_id <> p.query_id",
        "JOIN e c ON c.vec_id = a1.id AND c.vec_id <> p.query_id " +
          "AND c.vec_id % 10 <> 0"),
      // the refresh truth is q125's lifecycle with the TRAINING set
      // widened to the refresh tick's live corpus (thirds 0+1); the
      // encode still covers everything
      "q131_daily_loop_refresh" -> refreshSql,
      // the SAMPLED refresh truth: q131 with the training relation
      // (tsubs AND b0's init-id pool) further restricted to the hash
      // sample — keep = ceil(64 * 2^20 / n) over the live corpus, ids
      // kept when, for p = (id % 2^31) * 2654435761,
      // xor(p, p // 2^31) % 2^20 < keep (the xorshift-mixed
      // AnnIndex.sampleHash, hardened r16 — the r15 low-bits form
      // aliased ids mod 2^20); pure 64-bit integer arithmetic, so
      // DuckDB computes bit-identically what Spark computes. The b0
      // replace runs FIRST (its target substring also appears inside
      // the keepn CTE the tsubs replace inserts).
      "q138_daily_loop_refresh_sampled" -> refreshSql
        .replace("FROM e WHERE vec_id % 3 <> 2",
          "FROM e WHERE vec_id % 3 <> 2 AND " +
            "xor((vec_id % 2147483648) * 2654435761, " +
            "((vec_id % 2147483648) * 2654435761) // 2147483648) " +
            "% 1048576 < (SELECT keep FROM keepn)")
        .replace("tsubs AS (SELECT * FROM subs WHERE vec_id % 3 <> 2)",
          "keepn AS (SELECT (64 * 1048576 + count(*) - 1) // count(*) " +
            "AS keep FROM e WHERE vec_id % 3 <> 2), " +
            "tsubs AS (SELECT * FROM subs WHERE vec_id % 3 <> 2 AND " +
            "xor((vec_id % 2147483648) * 2654435761, " +
            "((vec_id % 2147483648) * 2654435761) // 2147483648) " +
            "% 1048576 < (SELECT keep FROM keepn))"),
      // q124's probe truth with the query set fixed to the first 600
      // ids instead of the corpus-proportional %100 sample
      "q132_ann_postings_fixedq" -> base("q124_ann_ivf_postings").replace(
        "FROM sims1 WHERE id % 100 = 0",
        "FROM sims1 WHERE id IN (SELECT vec_id FROM e " +
          "ORDER BY vec_id LIMIT 600)"),
      // q61's ADC truth with the same fixed query batch as q132
      "q139_ann_pq_fixedq" -> base("q61_ann_pq").replace(
        "(SELECT * FROM subs WHERE vec_id % 100 = 0) q",
        "(SELECT * FROM subs WHERE vec_id IN " +
          "(SELECT vec_id FROM e ORDER BY vec_id LIMIT 600)) q"),
      // q86's composed coarse+ADC truth with that same fixed batch
      "q140_ann_ivfpq_fixedq" -> base("q86_ann_ivfpq").replace(
        "(SELECT * FROM subs WHERE vec_id % 100 = 0) q",
        "(SELECT * FROM subs WHERE vec_id IN " +
          "(SELECT vec_id FROM e ORDER BY vec_id LIMIT 600)) q"),
      // q142's composed MULTI-PROBE truth with the fixed batch — the
      // same substitution applied to BOTH query filters (the probes
      // CTE reads e directly, the LUT reads subs)
      "q144_ann_ivfpq_mp_fixedq" -> base("q142_ann_ivfpq_multiprobe")
        .replace("(SELECT * FROM subs WHERE vec_id % 100 = 0) q",
          "(SELECT * FROM subs WHERE vec_id IN " +
            "(SELECT vec_id FROM e ORDER BY vec_id LIMIT 600)) q")
        .replace("(SELECT * FROM e WHERE vec_id % 100 = 0) q",
          "(SELECT * FROM e WHERE vec_id IN " +
            "(SELECT vec_id FROM e ORDER BY vec_id LIMIT 600)) q"),
      // the loop's vec-delete truths: q125/q127 with the dead ids gone
      // from the encoded/assigned side (training published before the
      // delete, so it is unchanged) and the query sample moved off the
      // removed residue class
      "q133_daily_loop_vec_delete" -> base("q125_daily_loop_ann")
        .replace("FROM subs s JOIN books b ON s.sub = b.sub)",
          "FROM subs s JOIN books b ON s.sub = b.sub " +
            "WHERE s.vec_id % 10 <> 0)")
        .replace("WHERE vec_id % 100 = 0", "WHERE vec_id % 100 = 1"),
      "q134_daily_loop_postings_delete" -> base("q127_daily_loop_postings")
        .replace("JOIN e c ON c.vec_id = a1.id AND c.vec_id <> p.query_id",
          "JOIN e c ON c.vec_id = a1.id AND c.vec_id <> p.query_id " +
            "AND c.vec_id % 10 <> 0")
        .replace("FROM sims1 WHERE id % 100 = 0",
          "FROM sims1 WHERE id % 100 = 1"),
      // the posting-side refresh × delete truth: q127's construction
      // with the centroid TRAINING relation widened to the refresh
      // tick's live labeled corpus (thirds 0+1 minus the dead ids —
      // the retrain reads the store after the tick's tombstones land),
      // candidates restricted to live ids, query sample off the
      // removed residue class
      "q136_daily_loop_postings_refresh_delete" ->
        postingsTrainedOnSql(Some("vec_id % 3 <> 2 AND vec_id % 10 <> 0"))
          .replace("JOIN e c ON c.vec_id = a1.id AND c.vec_id <> p.query_id",
            "JOIN e c ON c.vec_id = a1.id AND c.vec_id <> p.query_id " +
              "AND c.vec_id % 10 <> 0")
          .replace("FROM sims1 WHERE id % 100 = 0",
            "FROM sims1 WHERE id % 100 = 1"))
  }

  private lazy val oracle0: Map[String, String] = Map(
    // The oracle restates the q46 encode spec: the Spark side must push
    // real bytes through encode→decode and land on exactly these dims.
    // (BMP/PNG decode to 3 raster bands; our WAV writer emits 16-bit
    // mono PCM at Multimodal.WavSampleRate.)
    "q46_multimodal_decode" ->
      """SELECT doc_id AS media_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                ELSE 'wav' END AS kind,
           CAST(CASE WHEN doc_id % 3 < 2 THEN doc_id % 7 + 4 ELSE 0 END AS BIGINT) AS width,
           CAST(CASE WHEN doc_id % 3 < 2 THEN doc_id % 5 + 3 ELSE 0 END AS BIGINT) AS height,
           CAST(CASE WHEN doc_id % 3 < 2 THEN 3 ELSE 1 END AS BIGINT) AS channels,
           CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 50 + 10 ELSE 0 END AS BIGINT) AS n_samples,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 8000 ELSE 0 END AS BIGINT) AS sample_rate
         FROM documents ORDER BY media_id""",

    // Re-derives the WAV rows' decoded features (the sample generator is
    // integer arithmetic; the float32 per-bucket mean is mirrored by
    // CAST(... AS FLOAT)) and the linear-probe score over them.
    "q122_multimodal_batch_score" ->
      """WITH spec AS (
           SELECT doc_id AS media_id, doc_id AS seed, doc_id % 50 + 10 AS n
           FROM documents WHERE doc_id % 3 = 2),
         samples AS (
           SELECT media_id, g.i % 8 AS b,
                  ABS(((seed * 131 + g.i * 7919) % 65536) - 32768) AS a
           FROM spec CROSS JOIN (SELECT unnest(range(0, 59)) AS i) g
           WHERE g.i < spec.n),
         feats AS (
           SELECT media_id, b,
                  CAST(CAST(SUM(a) AS DOUBLE) / (32768.0 * COUNT(*)) AS FLOAT) AS f
           FROM samples GROUP BY media_id, b)
         SELECT media_id, ROUND(SUM(CAST(f AS DOUBLE) * (b + 1)), 6) AS score
         FROM feats GROUP BY media_id ORDER BY media_id""",

    "q30_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS copies
         FROM documents GROUP BY 1 ORDER BY content_hash""",

    "q31_dedup_jaccard" -> jaccardSql,

    // LSH must land on the exact answer (verified candidates).
    "q32_dedup_minhash_lsh" -> jaccardSql,

    // The simhash exact-recall invariant: identical texts ⇒ identical
    // signatures ⇒ every exact-dup pair surfaces at hamming 0. The
    // oracle computes the exact-dup pairs directly — no signature math,
    // which is the point: the invariant holds for ANY token hash. Same
    // deterministic copy injection as the Spark side.
    "q33_dedup_simhash" ->
      """WITH docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 20 = 0)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(0 AS BIGINT) AS hamming
         FROM docs a JOIN docs b
           ON a.text = b.text AND a.doc_id < b.doc_id
         ORDER BY a_id, b_id""",

    "q74_simhash_portable" -> {
      def fold(b: Long, p: Long) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
            (a, c) -> (a * $b + c) % $p)"""
      // bits 61-63 of the packed portable hash are structurally 0 (h1 <
      // 2^30 so h1·2^31 + h2 < 2^61), so the oracle sums bits 0..60; the
      // Spark side's bit-61..63 sums are always negative and set nothing.
      val bitSums = (0 until 61).map(j =>
        s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN w ELSE -w END) AS b$j").mkString(",\n")
      val sigExpr = (0 until 61).map(j =>
        s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH tf AS (
            SELECT doc_id, tok, COUNT(*) AS w
            FROM (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                  FROM documents)
            GROUP BY doc_id, tok),
          th AS (
            SELECT doc_id, w,
                   ${fold(131L, 1000000007L)} * CAST(${1L << 31} AS BIGINT)
                     + ${fold(137L, 998244353L)} AS h
            FROM tf),
          bits AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
          sig AS (SELECT doc_id, $sigExpr AS simhash FROM bits),
          banded AS (
            SELECT doc_id, simhash, band,
                   (simhash >> (band * 16)) & 65535 AS bval
            FROM sig, (SELECT UNNEST(range(0, 4)) AS band) b
            QUALIFY COUNT(*) OVER (PARTITION BY band, bval)
                    <= ${Dedup.DefaultMaxSimhashBucket}),
          cand AS (
            SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                   CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
            FROM banded x JOIN banded y
              ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
          SELECT a_id, b_id, hamming FROM cand
          WHERE hamming <= 3 ORDER BY a_id, b_id"""
    },

    "q73_containment" ->
      s"""WITH $shingleCte,
          inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
                    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT a_id, b_id,
                 CAST(i AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment
          FROM inter JOIN sizes sa ON a_id = sa.doc_id
                     JOIN sizes sb ON b_id = sb.doc_id
          WHERE CAST(i AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE)
                >= $ContainmentThreshold
          ORDER BY a_id, b_id""",

    "q70_profile" -> {
      def row(c: String, numeric: Boolean) = {
        val minNum = if (numeric) s"CAST(MIN($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val maxNum = if (numeric) s"CAST(MAX($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val minStr = if (numeric) "CAST(NULL AS VARCHAR)" else s"CAST(MIN($c) AS VARCHAR)"
        val maxStr = if (numeric) "CAST(NULL AS VARCHAR)" else s"CAST(MAX($c) AS VARCHAR)"
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
                   COUNT($c) AS nonnull, COUNT(*) - COUNT($c) AS nulls,
                   CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
                   $minNum AS min_num, $maxNum AS max_num,
                   $minStr AS min_str, $maxStr AS max_str
            FROM orders"""
      }
      Seq(row("o_orderkey", true), row("o_custkey", true),
          row("o_orderstatus", false), row("o_totalprice", true),
          row("o_orderpriority", false))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // Bound-gate oracles for the sketch queries (round 6): DuckDB
    // verifies the EXACT columns and pins within_bound = 1 — the Spark
    // side evaluates the sketch-vs-exact bound in plan, so an estimate
    // drifting past its guarantee flips the flag and hash-mismatches.
    "q42_hll_distinct" ->
      """SELECT l_returnflag,
                CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
                COUNT(*) AS cnt, CAST(1 AS BIGINT) AS within_bound
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",

    "q84_profile_hll" -> {
      def row(c: String, numeric: Boolean) = {
        val minNum = if (numeric) s"CAST(MIN($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val maxNum = if (numeric) s"CAST(MAX($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val minStr = if (numeric) "CAST(NULL AS VARCHAR)" else s"CAST(MIN($c) AS VARCHAR)"
        val maxStr = if (numeric) "CAST(NULL AS VARCHAR)" else s"CAST(MAX($c) AS VARCHAR)"
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
                   COUNT($c) AS nonnull, COUNT(*) - COUNT($c) AS nulls,
                   CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
                   $minNum AS min_num, $maxNum AS max_num,
                   $minStr AS min_str, $maxStr AS max_str,
                   CAST(1 AS BIGINT) AS within_bound
            FROM orders"""
      }
      Seq(row("o_orderkey", true), row("o_custkey", true),
          row("o_orderstatus", false), row("o_totalprice", true),
          row("o_orderpriority", false))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "q90_approx_quantiles" ->
      """SELECT l_returnflag, COUNT(*) AS cnt,
                CAST(1 AS BIGINT) AS within_p25,
                CAST(1 AS BIGINT) AS within_p50,
                CAST(1 AS BIGINT) AS within_p75
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",

    "q68_winnow_pairs" -> {
      import graft.operators.Dedup.{WinnowB => B, WinnowP => P, WinnowGram => G,
                                    WinnowWindow => W}
      s"""WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents),
          th AS (
            SELECT doc_id,
                   list_transform(toks, t ->
                     list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split(t, ''),
                                        c -> CAST(ascii(c) AS BIGINT))),
                       (a, c) -> (a * $B + c) % $P)) AS tokh,
                   CAST(len(toks) AS BIGINT) AS n
            FROM toks),
          gh AS (
            SELECT doc_id,
                   CASE WHEN n >= $G THEN
                     list_transform(range(1, n - ${G - 2}), i ->
                       ((tokh[i] * $B + tokh[i+1]) % $P * $B + tokh[i+2]) % $P)
                   ELSE CAST([] AS BIGINT[]) END AS hashes,
                   CASE WHEN n >= $G THEN n - ${G - 1} ELSE 0 END AS nh
            FROM th),
          fps AS (
            SELECT DISTINCT doc_id, UNNEST(list_distinct(
                     CASE WHEN nh >= $W THEN
                       list_transform(range(1, nh - ${W - 2}), i ->
                         list_min(list_slice(hashes, i, i + ${W - 1})))
                     WHEN nh > 0 THEN [list_min(hashes)]
                     ELSE CAST([] AS BIGINT[]) END)) AS fp
            FROM gh),
          rare AS (
            SELECT doc_id, fp FROM fps
            QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 10)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
          FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 2
          ORDER BY doc_a, doc_b"""
    },

    "q34_text_quality" ->
      s"""WITH toks AS (
            SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens
            FROM documents)
          SELECT doc_id,
                 CAST(len(tokens) AS BIGINT) AS n_tokens,
                 CAST(length(text) AS BIGINT) AS n_chars_obs,
                 ${hitSql(TA.stopEn)} AS stop_hits,
                 CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct_cnt,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(tokens, t -> CAST(length(t) AS BIGINT))), (a,b) -> a+b) AS tok_len_sum,
                 CASE WHEN len(tokens) > 0 THEN
                   CAST(${hitSql(TA.stopEn)} AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS stop_ratio,
                 CASE WHEN len(tokens) > 0 THEN
                   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(tokens, t -> CAST(length(t) AS BIGINT))), (a,b) -> a+b) AS DOUBLE)
                   / CAST(len(tokens) AS DOUBLE) END AS avg_tok_len
          FROM toks ORDER BY doc_id""",

    "q63_langid_ngram" ->
      s"""WITH toks AS (
            SELECT doc_id,
                   CASE WHEN length(lower(text)) >= 3
                        THEN list_transform(range(1, length(lower(text))-1),
                               i -> substr(lower(text), i, 3))
                        ELSE CAST([] AS VARCHAR[]) END AS tokens
            FROM documents)
          SELECT doc_id,
                 ${hitSql(TA.triEn)} AS en_hits,
                 ${hitSql(TA.triEs)} AS es_hits,
                 ${hitSql(TA.triDe)} AS de_hits,
                 ${hitSql(TA.triFr)} AS fr_hits,
                 CASE WHEN ${hitSql(TA.triEn)} >= ${hitSql(TA.triEs)}
                       AND ${hitSql(TA.triEn)} >= ${hitSql(TA.triDe)}
                       AND ${hitSql(TA.triEn)} >= ${hitSql(TA.triFr)}
                       AND ${hitSql(TA.triEn)} > 0 THEN 'en'
                      WHEN ${hitSql(TA.triEs)} >= ${hitSql(TA.triDe)}
                       AND ${hitSql(TA.triEs)} >= ${hitSql(TA.triFr)}
                       AND ${hitSql(TA.triEs)} > 0 THEN 'es'
                      WHEN ${hitSql(TA.triDe)} >= ${hitSql(TA.triFr)}
                       AND ${hitSql(TA.triDe)} > 0 THEN 'de'
                      WHEN ${hitSql(TA.triFr)} > 0 THEN 'fr'
                      ELSE 'unknown' END AS lang_pred
          FROM toks ORDER BY doc_id""",

    "q35_langid" ->
      s"""WITH toks AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens
            FROM documents)
          SELECT doc_id,
                 ${hitSql(TA.stopEn)} AS en_hits,
                 ${hitSql(TA.stopEs)} AS es_hits,
                 ${hitSql(TA.stopDe)} AS de_hits,
                 ${hitSql(TA.stopFr)} AS fr_hits,
                 CASE WHEN ${hitSql(TA.stopEn)} >= ${hitSql(TA.stopEs)}
                       AND ${hitSql(TA.stopEn)} >= ${hitSql(TA.stopDe)}
                       AND ${hitSql(TA.stopEn)} >= ${hitSql(TA.stopFr)}
                       AND ${hitSql(TA.stopEn)} > 0 THEN 'en'
                      WHEN ${hitSql(TA.stopEs)} >= ${hitSql(TA.stopDe)}
                       AND ${hitSql(TA.stopEs)} >= ${hitSql(TA.stopFr)}
                       AND ${hitSql(TA.stopEs)} > 0 THEN 'es'
                      WHEN ${hitSql(TA.stopDe)} >= ${hitSql(TA.stopFr)}
                       AND ${hitSql(TA.stopDe)} > 0 THEN 'de'
                      WHEN ${hitSql(TA.stopFr)} > 0 THEN 'fr'
                      ELSE 'unknown' END AS lang_pred
          FROM toks ORDER BY doc_id""",

    "q36_token_counts" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
                CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
                CAST(length(text) AS BIGINT) AS chars
         FROM documents ORDER BY doc_id""",

    "q50_tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
                      FROM documents),
          tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
          dfreq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
          n AS (SELECT COUNT(*) AS n_docs FROM documents),
          scored AS (SELECT t.doc_id, t.term, t.tf, d.doc_freq,
                            ROUND(CAST(t.tf AS DOUBLE) *
                                  ln(CAST(n_docs AS DOUBLE) / CAST(d.doc_freq AS DOUBLE)), 6) AS tfidf,
                            ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                               ORDER BY t.tf DESC, d.doc_freq ASC, t.term ASC) AS rk
                     FROM tf t JOIN dfreq d USING (term) CROSS JOIN n)
          SELECT doc_id, term, tf, doc_freq, CAST(rk AS BIGINT) AS rank, tfidf
          FROM scored WHERE rk <= 5 ORDER BY doc_id, rank""",

    "q37_fingerprint" ->
      """SELECT doc_id,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(regexp_extract_all(lower(text), '\S+'),
                                 t -> CAST(ascii(t) AS BIGINT))),
                  (a, c) -> (a * 131 + c) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",

    "q38_ann_topk" ->
      s"""WITH $unitCte,
          q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
          sims AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                          ${foldDot("q.u", "c.u")} AS sim
                   FROM q JOIN e c ON c.vec_id <> q.vec_id)
          SELECT query_id, cand_id, CAST(rk AS BIGINT) AS rank, sim
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY sim DESC, cand_id ASC) AS rk
                FROM sims)
          WHERE rk <= 10 ORDER BY query_id, rank""",

    "q39_ann_ivf" ->
      s"""WITH $unitCte,
          q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
          sims AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                          ${foldDot("q.u", "c.u")} AS sim
                   FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id)
          SELECT query_id, cand_id, CAST(rk AS BIGINT) AS rank, sim
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY sim DESC, cand_id ASC) AS rk
                FROM sims)
          WHERE rk <= 3 ORDER BY query_id, rank""",

    // The QUALIFY mirrors cellDupPairs' maxCell guard (same constant,
    // referenced so it cannot drift) — over-grown cells leave pairwise
    // blocking in BOTH engines.
    "q40_embed_dups" ->
      s"""WITH $unitCte,
          eg AS (SELECT * FROM e
                 QUALIFY COUNT(*) OVER (PARTITION BY label)
                         <= ${Similarity.DefaultMaxCell})
          SELECT a_id, b_id, sim FROM (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${foldDot("a.u", "b.u")} AS sim
            FROM eg a JOIN eg b ON a.label = b.label AND a.vec_id < b.vec_id)
          WHERE sim >= $CosineDupThreshold
          ORDER BY a_id, b_id""",

    // Full SQL mirror of the SRP pipeline: same LCG plane weights, same
    // ordered dot fold (bit-identical IEEE sums → identical sign bits),
    // same band packing, bucket-population cap, and candidate join — any
    // divergence in ANY stage fails the hash compare, not just a recall
    // miss. The QUALIFY mirrors srpDupPairs' maxBucket guard (same
    // constant, referenced so it cannot drift).
    "q75_srp_dups" ->
      s"""WITH $unitCte,
          planes AS (
            SELECT j, list_transform(range(0, 64), d ->
                     CAST((1103515245 * (j*64 + d) + 12345) % 2147483648
                          % 2001 - 1000 AS DOUBLE)) AS w
            FROM (SELECT unnest(range(0, 48)) AS j)),
          bits AS (
            SELECT e.vec_id AS id, CAST(p.j // 6 AS INT) AS band,
                   CASE WHEN ${foldDot("e.u", "p.w")} >= 0.0
                        THEN CAST(2 ** (p.j % 6) AS BIGINT) ELSE 0 END AS bit
            FROM e CROSS JOIN planes p),
          bkeys AS (SELECT id, band, CAST(SUM(bit) AS BIGINT) AS bkey
                    FROM bits GROUP BY id, band
                    QUALIFY COUNT(*) OVER (PARTITION BY band, bkey)
                            <= ${Similarity.DefaultMaxSrpBucket}),
          cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
                   FROM bkeys a JOIN bkeys b
                     ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id)
          SELECT a_id, b_id, sim FROM (
            SELECT c.a_id, c.b_id, ${foldDot("ua.u", "ub.u")} AS sim
            FROM cand c JOIN e ua ON ua.vec_id = c.a_id
                        JOIN e ub ON ub.vec_id = c.b_id)
          WHERE sim >= $CosineDupThreshold ORDER BY a_id, b_id""",

    // Full exact recompute restricted to pairs touching the delta
    // (doc_id % 10 = 0) — what minhashPairsIncremental must reproduce
    // without re-hashing the corpus.
    "q81_incremental_dedup" ->
      s"""WITH $pairsCte
          SELECT a_id, b_id, jaccard FROM pairs
          WHERE a_id % 10 = 0 OR b_id % 10 = 0
          ORDER BY a_id, b_id""",

    // Same exact-recompute oracle as q81: the on-disk index path must
    // reproduce the in-memory incremental answer bit for bit.
    "q106_disk_index_dedup" ->
      s"""WITH $pairsCte
          SELECT a_id, b_id, jaccard FROM pairs
          WHERE a_id % 10 = 0 OR b_id % 10 = 0
          ORDER BY a_id, b_id""",

    // Same truth as q106 (the probe side is the ≡ 0 docs, the index side
    // everything else) — reached through the layered base+append chain
    // instead of a monolithic build, which is exactly the claim under
    // gate: layering must not change the answer.
    "q117_index_append" ->
      s"""WITH $pairsCte
          SELECT a_id, b_id, jaccard FROM pairs
          WHERE a_id % 10 = 0 OR b_id % 10 = 0
          ORDER BY a_id, b_id""",

    // The streamed daily loop must land on the complete batch truth —
    // every pair, discovered at whichever tick its later member arrived.
    "q118_stream_index_dedup" -> jaccardSql,

    // The tick-committed daily loop with mid-sequence compaction must
    // land on the same complete batch truth.
    "q119_daily_loop_dedup" -> jaccardSql,

    // The LSH-candidates + exact-containment-verify construction is NOT
    // mirrored here — the oracle is the uncapped exact answer (q73's),
    // so candidate recall itself is hash-gated.
    "q83_containment_lsh" ->
      s"""WITH $shingleCte,
          inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
                    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT a_id, b_id,
                 CAST(i AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment
          FROM inter JOIN sizes sa ON a_id = sa.doc_id
                     JOIN sizes sb ON b_id = sb.doc_id
          WHERE CAST(i AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE)
                >= $ContainmentThreshold
          ORDER BY a_id, b_id""",

    // ANN recall: every approximate tier's candidate set re-derived with
    // the SAME mirrored constructions as q38/q39/q61/q75, intersected
    // with brute-force truth in plain integer set arithmetic.
    "q82_ann_recall" ->
      s"""WITH $unitCte,
          q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
          bsims AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                           ${foldDot("q.u", "c.u")} AS sim
                    FROM q JOIN e c ON c.vec_id <> q.vec_id),
          brute AS (SELECT query_id, cand_id, rk FROM (
                      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, cand_id ASC) AS rk
                      FROM bsims)
                    WHERE rk <= 5),
          truth3 AS (SELECT query_id, cand_id FROM brute WHERE rk <= 3),
          truth5 AS (SELECT query_id, cand_id FROM brute),
          isims AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                           ${foldDot("q.u", "c.u")} AS sim
                    FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id),
          ivf AS (SELECT query_id, cand_id FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, cand_id ASC) AS rk
                    FROM isims)
                  WHERE rk <= 3),
          subs AS (
            SELECT vec_id, sub, u[sub*16+1 : sub*16+16] AS sv
            FROM e, (SELECT unnest(range(0, 4)) AS sub)),
          b0 AS (
            SELECT sub, ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                     AS code, sv AS code_vec
            FROM subs
            WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
          ${lloydRoundSql(1, "b0")},
          ${lloydRoundSql(2, "b1")},
          books AS (SELECT * FROM b2),
          codes AS (
            SELECT vec_id AS cand_id, sub, code FROM (
              SELECT s.vec_id, s.sub, b.code,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                                        ORDER BY ${foldDot("s.sv", "b.code_vec")} DESC,
                                                 b.code ASC) AS rn
              FROM subs s JOIN books b ON s.sub = b.sub)
            WHERE rn = 1),
          lut AS (
            SELECT q.vec_id AS query_id, b.sub, b.code,
                   ${foldDot("q.sv", "b.code_vec")} AS l
            FROM (SELECT * FROM subs WHERE vec_id % 100 = 0) q
            JOIN books b ON q.sub = b.sub),
          adc AS (
            SELECT lut.query_id, c.cand_id,
                   CAST(SUM(CAST(lut.l AS DECIMAL(28,16))) AS DOUBLE) AS approx_sim
            FROM codes c JOIN lut ON c.sub = lut.sub AND c.code = lut.code
            WHERE c.cand_id <> lut.query_id
            GROUP BY 1, 2),
          pq AS (SELECT query_id, cand_id FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_sim DESC, cand_id ASC) AS rank
                   FROM adc)
                 WHERE rank <= 5),
          planes AS (
            SELECT j, list_transform(range(0, 64), d ->
                     CAST((1103515245 * (j*64 + d) + 12345) % 2147483648
                          % 2001 - 1000 AS DOUBLE)) AS w
            FROM (SELECT unnest(range(0, 48)) AS j)),
          -- SRP bands over the SAMPLE, exactly as the Spark side does:
          -- the maxBucket QUALIFY must see SAMPLE bucket populations, not
          -- full-corpus ones, or the two engines cap different buckets
          esamp AS (SELECT * FROM e WHERE vec_id % 10 = 0),
          sbits AS (
            SELECT e.vec_id AS id, CAST(p.j // 6 AS INT) AS band,
                   CASE WHEN ${foldDot("e.u", "p.w")} >= 0.0
                        THEN CAST(2 ** (p.j % 6) AS BIGINT) ELSE 0 END AS bit
            FROM esamp e CROSS JOIN planes p),
          bkeys AS (SELECT id, band, CAST(SUM(bit) AS BIGINT) AS bkey
                    FROM sbits GROUP BY id, band
                    QUALIFY COUNT(*) OVER (PARTITION BY band, bkey)
                            <= ${Similarity.DefaultMaxSrpBucket}),
          scand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
                    FROM bkeys a JOIN bkeys b
                      ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
          srp AS (SELECT a_id, b_id FROM (
                    SELECT c.a_id, c.b_id, ${foldDot("ua.u", "ub.u")} AS sim
                    FROM scand c JOIN esamp ua ON ua.vec_id = c.a_id
                                JOIN esamp ub ON ub.vec_id = c.b_id)
                  WHERE sim >= $CosineDupThreshold),
          esub AS (SELECT a_id, b_id FROM (
                     SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                            ${foldDot("a.u", "b.u")} AS sim
                     FROM esamp a JOIN esamp b ON a.vec_id < b.vec_id)
                   WHERE sim >= $CosineDupThreshold)
          SELECT 'ivf' AS method,
                 CAST((SELECT COUNT(*) FROM ivf i JOIN truth3 t
                       USING (query_id, cand_id)) AS BIGINT) AS hits,
                 CAST((SELECT COUNT(*) FROM truth3) AS BIGINT) AS truth_cnt
          UNION ALL
          SELECT 'pq',
                 CAST((SELECT COUNT(*) FROM pq p JOIN truth5 t
                       USING (query_id, cand_id)) AS BIGINT),
                 CAST((SELECT COUNT(*) FROM truth5) AS BIGINT)
          UNION ALL
          SELECT 'srp',
                 CAST((SELECT COUNT(*) FROM srp s JOIN esub x
                       USING (a_id, b_id)) AS BIGINT),
                 CAST((SELECT COUNT(*) FROM esub) AS BIGINT)
          ORDER BY method""",

    "q48_dup_clusters" ->
      s"""WITH RECURSIVE $pairsCte,
          edges AS (SELECT a_id AS s, b_id AS d FROM pairs
                    UNION ALL SELECT b_id, a_id FROM pairs),
          reach(id, lab) AS (
            SELECT DISTINCT s, s FROM edges
            UNION
            SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id)
          SELECT id AS doc_id, MIN(lab) AS cluster_id
          FROM reach GROUP BY id ORDER BY doc_id""",

    "q99_pagerank" -> {
      val scale = 1000000000000L
      // One unrolled integer-exact iteration: every division is a floor
      // (DuckDB `//` == Spark `div` on positive BIGINTs).
      def iter(k: Int, prev: String) =
        s"""it$k AS (
              SELECT n0.id,
                     CAST(((15 * $scale) // 100) // (SELECT n FROM nn)
                          + (85 * COALESCE(SUM(r.rank // d.deg), 0)) // 100
                          AS BIGINT) AS rank
              FROM nodes n0
              LEFT JOIN edges e ON e.dst = n0.id
              LEFT JOIN $prev r ON r.id = e.src
              LEFT JOIN deg d ON d.id = e.src
              GROUP BY n0.id)"""
      s"""WITH $pairsCte,
          edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                    UNION ALL SELECT b_id, a_id FROM pairs),
          nodes AS (SELECT DISTINCT src AS id FROM edges),
          deg AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY 1),
          nn AS (SELECT COUNT(*) AS n FROM nodes),
          r0 AS (SELECT id, CAST($scale // (SELECT n FROM nn) AS BIGINT) AS rank
                 FROM nodes),
          ${iter(1, "r0")},
          ${iter(2, "it1")},
          ${iter(3, "it2")}
          SELECT id AS doc_id, rank FROM it3 ORDER BY doc_id"""
    },

    "q49_dedup_apply" ->
      s"""WITH RECURSIVE $pairsCte,
          edges AS (SELECT a_id AS s, b_id AS d FROM pairs
                    UNION ALL SELECT b_id, a_id FROM pairs),
          reach(id, lab) AS (
            SELECT DISTINCT s, s FROM edges
            UNION
            SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id),
          removed AS (SELECT id FROM (SELECT id, MIN(lab) AS m FROM reach GROUP BY id)
                      WHERE id <> m)
          SELECT doc_id, lang, n_chars FROM documents
          WHERE doc_id NOT IN (SELECT id FROM removed)
          ORDER BY doc_id""",

    "q61_ann_pq" ->
      s"""WITH $unitCte,
          subs AS (
            SELECT vec_id, sub, u[sub*16+1 : sub*16+16] AS sv
            FROM e, (SELECT unnest(range(0, 4)) AS sub)),
          b0 AS (
            SELECT sub, ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                     AS code, sv AS code_vec
            FROM subs
            WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
          ${lloydRoundSql(1, "b0")},
          ${lloydRoundSql(2, "b1")},
          books AS (SELECT * FROM b2),
          codes AS (
            SELECT vec_id AS cand_id, sub, code FROM (
              SELECT s.vec_id, s.sub, b.code,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                                        ORDER BY ${foldDot("s.sv", "b.code_vec")} DESC,
                                                 b.code ASC) AS rn
              FROM subs s JOIN books b ON s.sub = b.sub)
            WHERE rn = 1),
          lut AS (
            SELECT q.vec_id AS query_id, b.sub, b.code,
                   ${foldDot("q.sv", "b.code_vec")} AS l
            FROM (SELECT * FROM subs WHERE vec_id % 100 = 0) q
            JOIN books b ON q.sub = b.sub),
          adc AS (
            SELECT lut.query_id, c.cand_id,
                   CAST(SUM(CAST(lut.l AS DECIMAL(28,16))) AS DOUBLE) AS approx_sim
            FROM codes c JOIN lut ON c.sub = lut.sub AND c.code = lut.code
            WHERE c.cand_id <> lut.query_id
            GROUP BY 1, 2)
          SELECT query_id, cand_id, CAST(rank AS BIGINT) AS rank,
                 ROUND(approx_sim, 6) AS approx_sim
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY approx_sim DESC, cand_id ASC)
                            AS rank
                FROM adc)
          WHERE rank <= 5 ORDER BY query_id, rank""",

    // Full Lloyd-round mirror: init centroids from label cells (q47's
    // construction), assignment rank by the same ordered dot fold, exact-
    // decimal second-round means, refined assignment.
    "q87_kmeans_refine" ->
      s"""WITH $unitCte,
          $kmeansRefineCtes
          SELECT id, CAST(assigned_cell AS BIGINT) AS assigned_cell,
                 ROUND(cell_sim, 6) AS cell_sim
          FROM (SELECT id, cell AS assigned_cell, sim AS cell_sim,
                       ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY sim DESC, cell ASC) AS rn
                FROM sims1)
          WHERE rn = 1 ORDER BY id""",

    // q87's refined cells driving the q82 recall measurement: the
    // "after the fix" row of the tuning dial.
    "q107_semantic_dedup" ->
      s"""WITH $unitCte,
          $kmeansRefineCtes,
          a1 AS (SELECT id, cell AS acell FROM (
                   SELECT id, cell,
                          ROW_NUMBER() OVER (PARTITION BY id
                                             ORDER BY sim DESC, cell ASC) AS rn
                   FROM sims1)
                 WHERE rn = 1),
          au AS (SELECT e.vec_id AS id, e.u, a1.acell
                 FROM e JOIN a1 ON e.vec_id = a1.id
                 QUALIFY COUNT(*) OVER (PARTITION BY a1.acell)
                         <= ${Similarity.DefaultMaxCell}),
          pairs AS (SELECT x.id AS a_id, y.id AS b_id,
                           ${foldDot("x.u", "y.u")} AS sim
                    FROM au x JOIN au y
                    ON x.acell = y.acell AND x.id < y.id)
          SELECT b_id AS vec_id, MIN(a_id) AS witness_id,
                 ROUND(MAX(sim), 6) AS max_sim
          FROM pairs WHERE sim >= $CosineDupThreshold
          GROUP BY 1 ORDER BY vec_id""",

    // q107 with corpus-scaled seeds (BOTH layers — auto-C coarse,
    // auto-k sub-seeds) AND the coarse-restricted assign: identical
    // dedup tail except the pair join is null-safe (a NULL-label
    // chain's NULL acell still pairs, mirroring Spark's <=>); the
    // seeding/Lloyd chain is autoCoarseCtes (== semDedupAutoKRemovals
    // stage for stage).
    "q116_semantic_autok" ->
      s"""WITH $unitCte,
          ${autoCoarseCtes(AutoKTargetCell, Seq(AutoCoarseTarget))},
          au AS (SELECT e.vec_id AS id, e.u, a1.acell
                 FROM e JOIN a1 ON e.vec_id = a1.id
                 QUALIFY COUNT(*) OVER (PARTITION BY a1.acell)
                         <= ${Similarity.DefaultMaxCell}),
          pairs AS (SELECT x.id AS a_id, y.id AS b_id,
                           ${foldDot("x.u", "y.u")} AS sim
                    FROM au x JOIN au y
                    ON x.acell IS NOT DISTINCT FROM y.acell
                       AND x.id < y.id)
          SELECT b_id AS vec_id, MIN(a_id) AS witness_id,
                 ROUND(MAX(sim), 6) AS max_sim
          FROM pairs WHERE sim >= $CosineDupThreshold
          GROUP BY 1 ORDER BY vec_id""",

    // q116's chain cut at the final restricted assignment: the hashed
    // columns include the depth-2 composite cell ids, so both engines'
    // sentinel/densify/ceil-div/mod arithmetic must agree value for
    // value, not just grouping for grouping.
    "q141_autok_assign" ->
      s"""WITH $unitCte,
          ${autoCoarseCtes(AutoKTargetCell, Seq(AutoCoarseTarget))}
          SELECT id AS vec_id, acell AS cell, ROUND(sim, 6) AS sim
          FROM a1 ORDER BY vec_id""",

    // q141's surface with the ladder ENGAGED (r18 verdict task 2): at
    // coarseTarget 5 and the work floor zeroed, the engine's
    // ladderTargets(maxPop=66, N=500, 5, 0) decides [25, 5] on the
    // sf0.01 fixture (66 > 5², floor 0; a third level would need
    // maxPop > 125 — spec-pinned boundary), so TWO subdivide→re-assign
    // levels plus the between-level densify really run, and the hashed
    // cell ids are DEPTH-3 composites ((densified L1 · SplitCap + sub)
    // · SplitCap + sub) — a single-level chain would produce different
    // ids outright, so the green hash is itself the proof the
    // recursion engaged. The oracle instantiates the SAME CTE chain at
    // Seq(25, 5).
    "q143_autok_ladder2" ->
      s"""WITH $unitCte,
          ${autoCoarseCtes(AutoKTargetCell, Seq(25L, 5L))}
          SELECT id AS vec_id, acell AS cell, ROUND(sim, 6) AS sim
          FROM a1 ORDER BY vec_id""",

    "q88_ann_recall_refined" ->
      s"""WITH $unitCte,
          $kmeansRefineCtes,
          a1 AS (SELECT id, cell AS acell FROM (
                   SELECT id, cell, sim,
                          ROW_NUMBER() OVER (PARTITION BY id
                                             ORDER BY sim DESC, cell ASC) AS rn
                   FROM sims1)
                 WHERE rn = 1),
          r AS (SELECT e.vec_id, a1.acell AS label, e.u
                FROM e JOIN a1 ON e.vec_id = a1.id),
          rq AS (SELECT * FROM r WHERE vec_id % 100 = 0),
          bsims AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                           ${foldDot("q.u", "c.u")} AS sim
                    FROM (SELECT * FROM e WHERE vec_id % 100 = 0) q
                    JOIN e c ON c.vec_id <> q.vec_id),
          truth3 AS (SELECT query_id, cand_id FROM (
                       SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, cand_id ASC) AS rk
                       FROM bsims)
                     WHERE rk <= 3),
          isims AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                           ${foldDot("q.u", "c.u")} AS sim
                    FROM rq q JOIN r c ON c.label = q.label
                                      AND c.vec_id <> q.vec_id),
          ivf AS (SELECT query_id, cand_id FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, cand_id ASC) AS rk
                    FROM isims)
                  WHERE rk <= 3)
          SELECT 'ivf_kmeans' AS method,
                 CAST((SELECT COUNT(*) FROM ivf i JOIN truth3 t
                       USING (query_id, cand_id)) AS BIGINT) AS hits,
                 CAST((SELECT COUNT(*) FROM truth3) AS BIGINT) AS truth_cnt""",

    // Multi-probe over the refined cells: probes = top-2 centroid sims
    // per query (cell tie-break), candidates from any probed cell.
    "q89_ann_recall_multiprobe" ->
      s"""WITH $unitCte,
          $kmeansRefineCtes,
          a1 AS (SELECT id, cell AS acell FROM (
                   SELECT id, cell, sim,
                          ROW_NUMBER() OVER (PARTITION BY id
                                             ORDER BY sim DESC, cell ASC) AS rn
                   FROM sims1)
                 WHERE rn = 1),
          r AS (SELECT e.vec_id, a1.acell AS label, e.u
                FROM e JOIN a1 ON e.vec_id = a1.id),
          rq AS (SELECT * FROM e WHERE vec_id % 100 = 0),
          probes AS (SELECT query_id, c_cell FROM (
                       SELECT q.vec_id AS query_id, c.cell AS c_cell,
                              ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY ${foldDot("q.u", "c.centroid")} DESC,
                                         c.cell ASC) AS rn
                       FROM rq q CROSS JOIN cents1 c)
                     WHERE rn <= 2),
          bsims AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                           ${foldDot("q.u", "c.u")} AS sim
                    FROM rq q JOIN e c ON c.vec_id <> q.vec_id),
          truth3 AS (SELECT query_id, cand_id FROM (
                       SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, cand_id ASC) AS rk
                       FROM bsims)
                     WHERE rk <= 3),
          msims AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                           ${foldDot("q.u", "c.u")} AS sim
                    FROM rq q JOIN probes p ON p.query_id = q.vec_id
                              JOIN r c ON c.label IS NOT DISTINCT FROM p.c_cell
                                      AND c.vec_id <> q.vec_id),
          mp AS (SELECT query_id, cand_id FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, cand_id ASC) AS rk
                   FROM msims)
                 WHERE rk <= 3)
          SELECT 'ivf_kmeans_np2' AS method,
                 CAST((SELECT COUNT(*) FROM mp i JOIN truth3 t
                       USING (query_id, cand_id)) AS BIGINT) AS hits,
                 CAST((SELECT COUNT(*) FROM truth3) AS BIGINT) AS truth_cnt""",

    // q61's construction with the coarse-cell restriction folded into the
    // ADC join — label carried through subs/codes/lut.
    "q86_ann_ivfpq" ->
      s"""WITH $unitCte,
          subs AS (
            SELECT vec_id, label, sub, u[sub*16+1 : sub*16+16] AS sv
            FROM e, (SELECT unnest(range(0, 4)) AS sub)),
          b0 AS (
            SELECT sub, ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                     AS code, sv AS code_vec
            FROM subs
            WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
          ${lloydRoundSql(1, "b0")},
          ${lloydRoundSql(2, "b1")},
          books AS (SELECT * FROM b2),
          codes AS (
            SELECT vec_id AS cand_id, label, sub, code FROM (
              SELECT s.vec_id, s.label, s.sub, b.code,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                                        ORDER BY ${foldDot("s.sv", "b.code_vec")} DESC,
                                                 b.code ASC) AS rn
              FROM subs s JOIN books b ON s.sub = b.sub)
            WHERE rn = 1),
          lut AS (
            SELECT q.vec_id AS query_id, q.label AS q_cell, b.sub, b.code,
                   ${foldDot("q.sv", "b.code_vec")} AS l
            FROM (SELECT * FROM subs WHERE vec_id % 100 = 0) q
            JOIN books b ON q.sub = b.sub),
          adc AS (
            SELECT lut.query_id, c.cand_id,
                   CAST(SUM(CAST(lut.l AS DECIMAL(28,16))) AS DOUBLE) AS approx_sim
            FROM codes c JOIN lut ON c.sub = lut.sub AND c.code = lut.code
                                 AND c.label = lut.q_cell
            WHERE c.cand_id <> lut.query_id
            GROUP BY 1, 2)
          SELECT query_id, cand_id, CAST(rank AS BIGINT) AS rank,
                 ROUND(approx_sim, 6) AS approx_sim
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY approx_sim DESC, cand_id ASC)
                            AS rank
                FROM adc)
          WHERE rank <= 3 ORDER BY query_id, rank""",

    // q86's books/codes with the cell restriction replaced by a probe
    // list: top-2 cells per query by exact-decimal label-centroid dot
    // (cell tie-break), ADC restricted to the probed cells.
    "q142_ann_ivfpq_multiprobe" ->
      s"""WITH $unitCte,
          subs AS (
            SELECT vec_id, label, sub, u[sub*16+1 : sub*16+16] AS sv
            FROM e, (SELECT unnest(range(0, 4)) AS sub)),
          b0 AS (
            SELECT sub, ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                     AS code, sv AS code_vec
            FROM subs
            WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
          ${lloydRoundSql(1, "b0")},
          ${lloydRoundSql(2, "b1")},
          books AS (SELECT * FROM b2),
          codes AS (
            SELECT vec_id AS cand_id, label, sub, code FROM (
              SELECT s.vec_id, s.label, s.sub, b.code,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                                        ORDER BY ${foldDot("s.sv", "b.code_vec")} DESC,
                                                 b.code ASC) AS rn
              FROM subs s JOIN books b ON s.sub = b.sub)
            WHERE rn = 1),
          cflat AS (SELECT label AS cell, generate_subscripts(u, 1) AS pos,
                           unnest(u) AS val FROM e),
          cdim AS (SELECT cell, pos,
                          CAST(SUM(CAST(val AS DECIMAL(28,16))) AS DOUBLE)
                            / CAST(COUNT(*) AS DOUBLE) AS cv
                   FROM cflat GROUP BY 1, 2),
          ccents AS (SELECT cell, list(cv ORDER BY pos) AS centroid
                     FROM cdim GROUP BY cell),
          probes AS (SELECT query_id, p_cell FROM (
                       SELECT q.vec_id AS query_id, c.cell AS p_cell,
                              ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY ${foldDot("q.u", "c.centroid")} DESC,
                                         c.cell ASC) AS rn
                       FROM (SELECT * FROM e WHERE vec_id % 100 = 0) q
                       CROSS JOIN ccents c)
                     WHERE rn <= 2),
          lut AS (
            SELECT q.vec_id AS query_id, b.sub, b.code,
                   ${foldDot("q.sv", "b.code_vec")} AS l
            FROM (SELECT * FROM subs WHERE vec_id % 100 = 0) q
            JOIN books b ON q.sub = b.sub),
          adc AS (
            SELECT lut.query_id, c.cand_id,
                   CAST(SUM(CAST(lut.l AS DECIMAL(28,16))) AS DOUBLE) AS approx_sim
            FROM codes c
            JOIN probes p ON c.label IS NOT DISTINCT FROM p.p_cell
            JOIN lut ON c.sub = lut.sub AND c.code = lut.code
                    AND lut.query_id = p.query_id
            WHERE c.cand_id <> lut.query_id
            GROUP BY 1, 2)
          SELECT query_id, cand_id, CAST(rank AS BIGINT) AS rank,
                 ROUND(approx_sim, 6) AS approx_sim
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY approx_sim DESC, cand_id ASC)
                            AS rank
                FROM adc)
          WHERE rank <= 3 ORDER BY query_id, rank""",

    "q60_coreset_sample" ->
      s"""WITH $unitCte,
          flat AS (SELECT label AS cell, generate_subscripts(u, 1) AS pos,
                          unnest(u) AS val FROM e),
          cdim AS (SELECT cell, pos,
                          CAST(SUM(CAST(val AS DECIMAL(28,16))) AS DOUBLE)
                            / CAST(COUNT(*) AS DOUBLE) AS cv
                   FROM flat GROUP BY 1, 2),
          cents AS (SELECT cell, list(cv ORDER BY pos) AS centroid
                    FROM cdim GROUP BY cell),
          sims AS (SELECT e.vec_id AS id, c.cell,
                          ${foldDot("e.u", "c.centroid")} AS sim
                   FROM e CROSS JOIN cents c),
          assigned AS (
            SELECT id, cell AS assigned_cell, sim AS cell_sim
            FROM (SELECT id, cell, sim,
                         ROW_NUMBER() OVER (PARTITION BY id
                                            ORDER BY sim DESC, cell ASC) AS rn
                  FROM sims)
            WHERE rn = 1)
          SELECT id, CAST(assigned_cell AS BIGINT) AS assigned_cell,
                 CAST(rk AS BIGINT) AS rk, ROUND(cell_sim, 6) AS cell_sim
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY assigned_cell
                                             ORDER BY cell_sim DESC, id ASC) AS rk
                FROM assigned)
          WHERE rk <= 3 ORDER BY assigned_cell, rk""",

    "q47_ann_ivf_assign" ->
      s"""WITH $unitCte,
          flat AS (SELECT label AS cell, generate_subscripts(u, 1) AS pos,
                          unnest(u) AS val FROM e),
          cdim AS (SELECT cell, pos,
                          CAST(SUM(CAST(val AS DECIMAL(28,16))) AS DOUBLE)
                            / CAST(COUNT(*) AS DOUBLE) AS cv
                   FROM flat GROUP BY 1, 2),
          cents AS (SELECT cell, list(cv ORDER BY pos) AS centroid
                    FROM cdim GROUP BY cell),
          sims AS (SELECT e.vec_id AS id, c.cell,
                          ${foldDot("e.u", "c.centroid")} AS sim
                   FROM e CROSS JOIN cents c)
          SELECT id, CAST(assigned_cell AS BIGINT) AS assigned_cell,
                 ROUND(cell_sim, 6) AS cell_sim
          FROM (SELECT id, cell AS assigned_cell, sim AS cell_sim,
                       ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY sim DESC, cell ASC) AS rn
                FROM sims)
          WHERE rn = 1 ORDER BY id""",

    "q41_multimodal_meta" ->
      """SELECT doc_id,
                CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
                sha256(text) AS digest,
                substring(hex(CAST(text AS BLOB)), 1, 8) AS magic_hex
         FROM documents ORDER BY doc_id"""
  )
}
