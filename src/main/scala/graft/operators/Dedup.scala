package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for a 100 TB training-data pipeline.
  *
  * Four families, all shuffle-conscious:
  *  - exact: hash-groupBy on a content digest (one shuffle on the digest —
  *    uniformly distributed, no skew);
  *  - n-gram Jaccard: exact set similarity via a shingle equi-join
  *    (quadratic in the worst case — at scale always run behind an LSH
  *    candidate filter, and cap shingle document-frequency to kill
  *    stop-shingle skew);
  *  - MinHash + LSH: banded signatures → equi-join on (band, bucket) —
  *    the scale path: candidate generation is a hash join on uniformly
  *    distributed 64-bit keys, then exact verification only on candidates;
  *  - SimHash: 64-bit signature, banded blocking + popcount Hamming check.
  *
  * Everything is built from codegen'd functions (xxhash64, higher-order
  * array ops); no UDFs, no driver-side collects.
  */
object Dedup {

  /** Default document-frequency cap for the exact-Jaccard shingle join: a
    * shingle in more docs than this is a stop-shingle that contributes
    * O(df²) join rows while carrying no similarity signal. The cap bounds
    * the worst key's fan-out; candidates lost to it would have needed
    * ≥ threshold of their shingles ultra-common, which near-dup pairs by
    * construction don't. */
  val DefaultMaxShingleDf = 10000L

  /** Distinct word n-gram shingles per document.
    *
    * IMPORTANT: `tokens` must be a materialized column (a bound attribute),
    * not an inline expression — sub-expressions referenced from inside a
    * higher-order-function lambda are re-evaluated per array element
    * (measured 16× slower when the tokenizer regexp was inlined here). */
  def shingles(tokens: Column, n: Int = 3): Column = {
    val grams = transform(
      sequence(lit(1), size(tokens) - (n - 1)),
      i => concat_ws(" ", slice(tokens, i, lit(n))))
    when(size(tokens) >= n, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** (doc_id, shingles) projection of a corpus. Tokenizes in its own
    * projection step so the HOF shingle expression sees an attribute. */
  def shingleSets(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                  n: Int = 3): DataFrame =
    // parallelism floor BEFORE the tokenizer (the engine's heaviest
    // per-row stage): a few-row-group input otherwise serializes it on
    // as few cores (Spread.ensureParallel — identity at real scale)
    Spread.ensureParallel(docs)
      .select(col(idCol).as("doc_id"),
              TextAnalysis.wsTokens(lower(col(textCol))).as("tokens"))
      .select(col("doc_id"), shingles(col("tokens"), n).as("shingles"))

  /** Exact dedup: digest → (keep = min id, copies). One shuffle. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** Exploded (doc_id, shingle) pairs, with the shingle string collapsed
    * to its xxhash64 — set-identical modulo 2^-64 collisions, and the
    * downstream self-joins compare 8-byte keys instead of ~20-char
    * strings. NOT persisted here: consumers that scan it more than once
    * (both join sides, signatures) manage the persist lifecycle
    * explicitly — see [[withPersisted]] — so long-lived sessions don't
    * accumulate orphaned cache entries. */
  def explodedShingles(shingleSets: DataFrame): DataFrame =
    shingleSets
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("shingle"))

  /** The shared skew guard behind every population cap (srp maxBucket,
    * simhash maxBucket, cell maxCell, basket maxBasketItems): drop every
    * row of a group whose population exceeds `max`; `max <= 0` disables.
    * Kept as ONE helper so the disable convention and the QUALIFY oracle
    * mirrors (same keys, same constant) cannot drift per copy. */
  def capPopulation(df: DataFrame, keys: Seq[Column], max: Long): DataFrame =
    if (max <= 0) df
    else df
      .withColumn("_pop", count(lit(1)).over(Window.partitionBy(keys: _*)))
      .filter(col("_pop") <= max)
      .drop("_pop")

  /** Persist `sh`, build + eagerly materialize `f(sh)` (localCheckpoint
    * truncates lineage and pins the — small — result), then release the
    * cache. Every multi-scan dedup entry point funnels through this so a
    * long-lived session (bench loop, notebook) never leaks cached
    * shingle relations. */
  def withPersisted(sh: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
    val p = sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(p).localCheckpoint() // eager: runs while p is cached
    finally p.unpersist()
  }

  /** Shared pair-statistics skeleton for the exact set-overlap measures:
    * df-cap skew guard → per-doc set sizes (window count riding on the
    * exploded rows) → shingle equi-self-join → (a_id, b_id, na, nb, i).
    * Jaccard and containment differ only in the ratio applied on top. */
  private def pairStatsFrom(sh0: DataFrame, maxShingleDf: Long): DataFrame = {
    val sh =
      if (maxShingleDf <= 0) sh0
      else {
        val df = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxShingleDf).select("shingle")
        sh0.join(df, "shingle")
      }
    val shN = sh.withColumn("n",
      count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    shN.as("a")
      .join(shN.as("b"), col("a.shingle") === col("b.shingle") &&
                         col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
               col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("i"))
  }

  /** Exact pairwise n-gram Jaccard ≥ threshold via shingle equi-join,
    * from a pre-exploded (ideally persisted) shingle relation.
    * Set sizes ride along on the exploded rows (window count over doc_id)
    * so no post-aggregation joins are needed — the pair aggregate carries
    * (na, nb) as grouping constants. `maxShingleDf` drops shingles
    * occurring in more than that many docs — the skew guard that stops a
    * stop-shingle from making the self-join quadratic on one key. ON by
    * default ([[DefaultMaxShingleDf]]); pass 0 to disable explicitly
    * (ground-truth/oracle-parity runs only — never at scale). */
  def jaccardPairsFrom(sh0: DataFrame, threshold: Double,
                       maxShingleDf: Long = DefaultMaxShingleDf): DataFrame =
    pairStatsFrom(sh0, maxShingleDf)
      .select(col("a_id"), col("b_id"),
        (col("i").cast("double") /
         (col("na") + col("nb") - col("i")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Containment pairs: |A∩B| / min(|A|,|B|) ≥ threshold — catches
    * partial duplication (one doc quoting most of a smaller one) that
    * symmetric Jaccard misses when sizes differ (containment ≥ jaccard
    * always). Same skeleton and skew guard as [[jaccardPairsFrom]];
    * like there, pass maxShingleDf = 0 only for ground-truth/
    * oracle-parity runs — never at scale. */
  def containmentPairsFrom(sh0: DataFrame, threshold: Double,
                           maxShingleDf: Long = DefaultMaxShingleDf): DataFrame =
    pairStatsFrom(sh0, maxShingleDf)
      .select(col("a_id"), col("b_id"),
        (col("i").cast("double") /
         least(col("na"), col("nb")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)

  /** Containment pairs, self-managed persist lifecycle. */
  def containmentPairs(shingleSets: DataFrame, threshold: Double,
                       maxShingleDf: Long = DefaultMaxShingleDf): DataFrame =
    withPersisted(explodedShingles(shingleSets))(
      containmentPairsFrom(_, threshold, maxShingleDf))

  /** Exact Jaccard pairs, self-managed: persists the exploded shingles for
    * the duration of the (eagerly materialized) computation, then releases
    * them. The result is small (pairs ≥ threshold) and lineage-truncated. */
  def jaccardPairs(shingleSets: DataFrame, threshold: Double,
                   maxShingleDf: Long = DefaultMaxShingleDf): DataFrame =
    withPersisted(explodedShingles(shingleSets))(
      jaccardPairsFrom(_, threshold, maxShingleDf))

  /** MinHash signatures: sig[j] = min over shingles of xxhash64(j, shingle).
    * One shuffle (groupBy doc_id); 64 partial-aggregated mins. */
  def minhashSignatures(shingleSets: DataFrame, numHashes: Int = 64): DataFrame =
    signaturesFromExploded(explodedShingles(shingleSets), numHashes)

  private[operators] def signaturesFromExploded(sh: DataFrame, numHashes: Int): DataFrame =
    sh.groupBy("doc_id")
      .agg(array((0 until numHashes).map(j =>
        min(xxhash64(lit(j), col("shingle")))): _*).as("sig"))

  /** (doc_id, band, bkey) rows — the LSH band index of a signature set.
    * `sigLen` is the length of the `sig` arrays; bands*rowsPerBand must
    * fit inside it (checked — under ANSI mode an out-of-range element_at
    * would otherwise surface as an opaque runtime error from deep inside
    * the plan). At 100 TB this is what you PERSIST (bucketed on
    * (band, bkey)): new data probes it with a co-partitioned equi-join
    * instead of re-hashing the corpus. */
  def bandKeys(signatures: DataFrame, bands: Int, rowsPerBand: Int,
               sigLen: Int): DataFrame = {
    require(bands > 0 && rowsPerBand > 0 && bands * rowsPerBand <= sigLen,
      s"bands*rowsPerBand (${bands * rowsPerBand}) must fit the signature length ($sigLen)")
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(lit(b) +: slice: _*).as("bkey"))
    }
    signatures
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
  }

  /** LSH candidate pairs: equal (band, bucket) → (a_id < b_id), distinct.
    * `sigLen` has no default on purpose: it must match the actual
    * signature length (a wrong guess would either throw the fit check or
    * silently band over a prefix). */
  def lshCandidates(signatures: DataFrame, bands: Int = 16,
                    rowsPerBand: Int = 4, sigLen: Int): DataFrame = {
    val bd = bandKeys(signatures, bands, rowsPerBand, sigLen)
    bd.as("x").join(bd.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** Exact-Jaccard verification of candidate (a_id, b_id) pairs against an
    * exploded shingle relation. The shingle relation is FIRST semi-joined
    * down to docs that appear in some candidate — the window set-size
    * count then runs over candidate docs only, so verification cost is
    * O(candidate docs' shingles), not O(|sh|) (a daily 0.1% delta must
    * not re-shuffle 100% of the corpus shingles just to count set
    * sizes). */
  def verifyPairs(cand0: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    verifyStats(cand0, sh)
      .select(col("a_id"), col("b_id"),
        (col("i").cast("double") /
         (col("na") + col("nb") - col("i")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Exact-containment verification of candidate pairs — same stats
    * skeleton as [[verifyPairs]], ratio |A∩B| / min(|A|,|B|). */
  def verifyContainmentPairs(cand0: DataFrame, sh: DataFrame,
                             threshold: Double): DataFrame =
    verifyStats(cand0, sh)
      .select(col("a_id"), col("b_id"),
        (col("i").cast("double") /
         least(col("na"), col("nb")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)

  /** (a_id, b_id, na, nb, i) overlap statistics for candidate pairs. */
  private def verifyStats(cand0: DataFrame, sh: DataFrame): DataFrame = {
    // The candidate set is consumed twice (doc-id restriction + the
    // verify join) and is small; materialize it once — otherwise the
    // whole upstream candidate generation (banding joins) runs twice.
    // A caller that already pinned its candidates (the dedup tick
    // checkpoints them for its own collect) skips the defensive copy:
    // re-checkpointing a checkpoint is a pure block-copy job (r22). Only
    // a CHECKPOINTED RDD counts as pinned — an RDD-backed frame
    // (createDataFrame over an RDD) is a LogicalRDD too, but recomputes
    // its lineage per consumer.
    val cand = cand0.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD if r.rdd.isCheckpointed => cand0
      case _ => cand0.localCheckpoint()
    }
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    // ONE scan of the shingle relation (r22): the sized relation appears
    // on BOTH sides of the intersection join below, and without a pin
    // the whole upstream — for the daily tick, the bucket-pruned store
    // scan plus its LWW supersede window — executed twice per
    // verification (no subplan CSE). Semi-join first (candidate docs
    // only — the relation is candidate-bounded, so the checkpoint is
    // delta-class at any corpus scale), pin, then size per side over
    // the pinned blocks.
    val shC = sh.join(candIds, Seq("doc_id"), "left_semi").localCheckpoint()
    val shN = shC
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    cand
      .join(shN.as("a"), col("a_id") === col("a.doc_id"))
      .join(shN.as("b"), col("b_id") === col("b.doc_id") &&
                         col("a.shingle") === col("b.shingle"))
      .groupBy(col("a_id"), col("b_id"), col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("i"))
  }

  def minhashPairsFrom(sh: DataFrame, threshold: Double,
                       numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val cand = lshCandidates(signaturesFromExploded(sh, numHashes),
      bands, numHashes / bands, sigLen = numHashes)
    verifyPairs(cand, sh, threshold)
  }

  /** Incremental near-dup detection: a delta of new documents against an
    * existing corpus, WITHOUT re-hashing the corpus. Candidates =
    * (delta bands ⋈ corpus band index) ∪ (delta-internal LSH pairs);
    * verification joins shingles restricted to those candidates. Returns
    * exactly the pairs of the full recompute that touch ≥1 delta doc
    * (same hash family ⇒ identical banding ⇒ identical candidates —
    * asserted in DedupSpec).
    *
    * 100 TB shape: corpus shingles + band index are persisted tables (the
    * index bucketed on (band, bkey)); a daily delta probes them with
    * co-partitioned equi-joins costing O(delta + matches). Nothing
    * re-reads the corpus beyond the matched buckets/doc groups. */
  def minhashPairsIncremental(corpusSh: DataFrame, deltaSh: DataFrame,
                              threshold: Double, numHashes: Int = 64,
                              bands: Int = 16): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rows = numHashes / bands
    val sigD = signaturesFromExploded(deltaSh, numHashes)
    val bd = bandKeys(sigD, bands, rows, numHashes)
    val bc = bandKeys(signaturesFromExploded(corpusSh, numHashes),
      bands, rows, numHashes) // in-memory twin of BandIndex's on-disk
                              // index (q106 probes that one from disk)
    val crossCand = bd.as("x").join(bc.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
              greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
    val deltaCand = bd.as("x").join(bd.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    val cand = crossCand.union(deltaCand).distinct()
    verifyPairs(cand, corpusSh.union(deltaSh), threshold)
  }

  /** MinHash+LSH near-dup pairs, self-managed persist lifecycle: the
    * exploded shingles (reused by signatures AND both verify-join sides)
    * are cached only for the duration of the eager computation. */
  def minhashDupPairs(docs: DataFrame, threshold: Double,
                      idCol: String = "doc_id", textCol: String = "text",
                      n: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame =
    withPersisted(explodedShingles(shingleSets(docs, idCol, textCol, n)))(
      minhashPairsFrom(_, threshold, numHashes, bands))

  /** Containment near-dup pairs through the SCALE path: MinHash+LSH
    * candidate generation, then exact containment verification — the
    * capped twin of the uncapped all-pairs [[containmentPairs]] ground
    * truth, exactly as [[minhashDupPairs]] twins [[jaccardPairs]].
    * Caveat vs Jaccard: LSH collision probability tracks JACCARD, so a
    * pair with high containment but low Jaccard (a tiny doc quoted
    * inside a huge one) may not collide in any band; at thresholds where
    * containment-dups are also Jaccard-dups (the near-dup regime) the
    * answers coincide — oracle-enforced by q83 against the exact
    * all-pairs answer. */
  def containmentDupPairs(docs: DataFrame, threshold: Double,
                          idCol: String = "doc_id", textCol: String = "text",
                          n: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    withPersisted(explodedShingles(shingleSets(docs, idCol, textCol, n))) { sh =>
      val cand = lshCandidates(signaturesFromExploded(sh, numHashes),
        bands, numHashes / bands, sigLen = numHashes)
      verifyContainmentPairs(cand, sh, threshold)
    }
  }

  /** Connected components over near-dup pairs → cluster id = min doc_id
    * reachable (the "which copy do we keep" step after pair finding).
    *
    * Size-adaptive, like a broadcast threshold: the verified near-dup
    * edge set is orders of magnitude smaller than the corpus, and when
    * it fits comfortably on the driver (≤ `driverEdgeThreshold` edges,
    * probed with a bounded limit+collect — never a full count of an
    * over-threshold set) a path-compressed union-find computes the
    * components in one pass with zero extra Spark jobs. Beyond the
    * threshold it falls back to iterative min-label propagation with
    * lineage truncation per round (localCheckpoint) — the standard Spark
    * shape for iterative graph algorithms; rounds = graph diameter, and
    * near-dup components are tiny/star-shaped so this converges in 2-3
    * rounds at any scale. ClustersSpec proves the two paths identical. */
  def clusters(pairs: DataFrame, driverEdgeThreshold: Int = 1000000): DataFrame = {
    // Fast path only for LongType ids: the union-find works on longs, and
    // taking it for other id types would change the output schema (or
    // throw on a cast under ANSI) — those keep the original
    // any-orderable-type contract of the distributed loop.
    val longIds = pairs.schema("a_id").dataType == org.apache.spark.sql.types.LongType &&
      pairs.schema("b_id").dataType == org.apache.spark.sql.types.LongType
    if (driverEdgeThreshold > 0 && longIds) {
      // Persist across probe + (possible) fallback: the limit+collect
      // would otherwise execute the full pairs pipeline once for the
      // probe and AGAIN in distributedClusters (reuse pitfall) exactly
      // when the edge set is big.
      val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // Typed collect: (Long, Long) tuples are @specialized, so the
        // probe holds 16 bytes/edge + tuple header instead of a
        // GenericRow of boxed longs (~10×) — the probe is a bounded heap
        // cost even when the edge set turns out over-threshold and the
        // array is discarded.
        import p.sparkSession.implicits._
        val probe = p.select(col("a_id"), col("b_id"))
          .limit(driverEdgeThreshold + 1).as[(Long, Long)].collect()
        if (probe.length <= driverEdgeThreshold)
          driverClusters(p.sparkSession, probe)
        else
          // safe to unpersist after: the loop persists its own edges
          // relation (materialized while p is cached) and every round's
          // labels are localCheckpoint'ed
          distributedClusters(p)
      } finally p.unpersist()
    } else distributedClusters(pairs)
  }

  /** Driver-side union-find: roots are always the component minimum
    * (larger root re-parented under smaller), so labels match the
    * distributed propagation exactly. */
  private def driverClusters(spark: org.apache.spark.sql.SparkSession,
                             edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(id => (id, find(id))).toDF("doc_id", "cluster_id")
  }

  private def distributedClusters(pairs: DataFrame): DataFrame = {
    val fwd = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("pid")).agg(min(col("label")).as("plabel"))
      // Convergence detection rides along as a flag on the propagation
      // result itself: the eager localCheckpoint materializes it once, and
      // the changed-count is a scan of those checkpointed blocks — no
      // second labels-vs-labels join per round.
      val next = labels.join(prop, labels("id") === prop("pid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("plabel"), col("label"))).as("label"),
          (coalesce(col("plabel"), col("label")) < col("label")).as("_changed"))
        .localCheckpoint()
      changed = next.filter(col("_changed")).count()
      labels = next.drop("_changed")
    }
    edges.unpersist() // labels is checkpointed — edges no longer needed
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Portable ~61-bit token hash: two char-polynomial folds (distinct
    * base/modulus) packed as h1·2³¹ + h2 — SQL-expressible on the oracle
    * side, unlike xxhash64. Weaker mixing than xxhash64, so it's the
    * ORACLE-PARITY hash (q74); production SimHash keeps xxhash64.
    * Computed by the codegen'd [[graft.expressions.PolyHash]] (one JVM
    * loop per token; the equivalent HOF fold walks an interpreted tree
    * per CHARACTER and measured ~2× slower end-to-end on q74). */
  def portableTokenHash(tok: Column): Column = {
    def fold(b: Long, p: Long): Column =
      call_function("graft_polyhash", tok, lit(b), lit(p))
    fold(131L, 1000000007L) * lit(1L << 31) + fold(137L, 998244353L)
  }

  /** 64-bit SimHash per document from unigram token hashes weighted by
    * term frequency. Two shuffles (token count, doc reassembly).
    * `tokHash` defaults to xxhash64 (the scale path); pass
    * [[portableTokenHash]] for the oracle-mirrored variant. */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              tokHash: Column => Column = xxhash64(_)): DataFrame = {
    val tf = Spread.ensureParallel(docs) // tokenizer floor (see shingleSets)
      .select(col(idCol).as("doc_id"),
              explode(TextAnalysis.wordTokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("w"))
      // h materializes once per (doc, tok) in the agg's result projection
      // — the 64 bit-sum expressions below must reference the ATTRIBUTE,
      // not the hash expression: HOFs are CodegenFallback (interpreted),
      // and an inlined hash would be re-evaluated 64× per row (the
      // portable fold would make that ~100× slower end-to-end)
      .select(col("doc_id"), col("w"), tokHash(col("tok")).as("h"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, col("w"))
            .otherwise(-col("w"))).as(s"b$j")
    }
    val sums = tf.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** Bucket-population cap for SimHash banding (the srpDupPairs
    * maxBucket / jaccard maxShingleDf pattern). Above sf0.01 a band
    * bucket holding a large near-identical cluster goes quadratic — the
    * sf1 rehearsal measured a 40k-doc bucket (1.1e9 candidate pairs)
    * under the portable hash's biased high bits. With the cap, candidate
    * volume is bounded by 2·n·cap: linear in corpus size at any skew. */
  val DefaultMaxSimhashBucket = 200L

  /** SimHash near-dup candidates: 4×16-bit band blocking, then popcount
    * Hamming ≤ maxHamming. Pigeonhole: distance ≤ 3 leaves ≥ 1 of the 4
    * bands identical, so blocking recall is exact — EXCEPT for pairs all
    * of whose clean bands are over-populated (> maxBucket), which are
    * dropped with the bucket: a cluster bigger than the cap is exact-
    * dedup's job (q30), not pairwise LSH's. The cap is mirrored in the
    * q74 oracle (QUALIFY on the band population) so capped results stay
    * hash-gated. maxBucket <= 0 disables the guard. */
  def simhashDupPairs(sim: DataFrame, maxHamming: Int = 3,
                      maxBucket: Long = DefaultMaxSimhashBucket): DataFrame = {
    val banded0 = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
               shiftrightunsigned(col("simhash"), b * 16)
                 .bitwiseAND(lit(0xFFFFL)).as("bval"))): _*)).as("bs"))
      .select(col("doc_id"), col("simhash"),
              col("bs.band").as("band"), col("bs.bval").as("bval"))
    // Materialized eagerly: the self-join consumes the banded relation
    // twice, and the upstream simhash (two shuffles + 64 bit sums) and
    // the population window must not run per side.
    val banded = capPopulation(banded0, Seq(col("band"), col("bval")), maxBucket)
      .localCheckpoint()
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
              bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long")
                .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- Winnowing fingerprints (MOSS-style; Schleimer/Wilkerson/Aiken,
  // "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03)

  /** Winnowing window (in grams) and gram width (in tokens). */
  val WinnowWindow = 4
  val WinnowGram = 3
  /** Modulus/base of the portable polynomial hash (mirrors q37's
    * rollingFingerprint — SQL-expressible on the oracle side, unlike
    * xxhash64). */
  val WinnowP = 1000000007L
  val WinnowB = 131L

  /** (doc_id, fp) winnowing fingerprints: per-token char-polynomial
    * hashes, combined into gram hashes, then the distinct minima of each
    * sliding window of [[WinnowWindow]] grams. Guarantees: any shared
    * token run of length ≥ window+gram-1 yields ≥ 1 shared fingerprint
    * (the winnowing coverage property), while keeping ~2/(w+1) of the
    * gram density. All narrow per-row HOF work — the only wide op is the
    * caller's join. */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val toked = Spread.ensureParallel(docs) // tokenizer floor (see shingleSets)
      .select(col(idCol).as("doc_id"),
        TextAnalysis.wordTokens(col(textCol)).as("toks"))
    // per-token polynomial hash over its chars (tokens are a bound
    // attribute — HOF re-eval pitfall). The per-element expression is
    // the codegen'd PolyHash: inside a transform lambda everything
    // evaluates interpreted, so the win is one compiled eval per TOKEN
    // instead of an interpreted split/slice/lambda tree per CHARACTER.
    val tokh = toked.select(col("doc_id"),
      transform(col("toks"), t =>
        call_function("graft_polyhash", t, lit(WinnowB), lit(WinnowP))).as("tokh"))
      .withColumn("n", size(col("tokh")))
    // gram hash = base-B combination of WinnowGram consecutive token
    // hashes (values stay < ~2^38, no ANSI overflow)
    val gramh = tokh.select(col("doc_id"),
      when(col("n") >= WinnowGram,
        transform(sequence(lit(1), col("n") - (WinnowGram - 1)), i =>
          ((element_at(col("tokh"), i) * WinnowB +
            element_at(col("tokh"), i + 1)) % WinnowP * WinnowB +
            element_at(col("tokh"), i + 2)) % WinnowP))
        .otherwise(array().cast("array<long>")).as("hashes"))
      .withColumn("nh", size(col("hashes")))
    gramh.select(col("doc_id"),
        explode(
          when(col("nh") >= WinnowWindow,
            array_distinct(transform(
              sequence(lit(1), col("nh") - (WinnowWindow - 1)),
              i => array_min(slice(col("hashes"), i, lit(WinnowWindow))))))
          .when(col("nh") > 0, array(array_min(col("hashes"))))
          .otherwise(array().cast("array<long>"))).as("fp"))
      .distinct()
  }

  /** Near-dup pairs sharing ≥ `minShared` winnowing fingerprints.
    * `maxFpDf` drops fingerprints present in more than that many docs —
    * the same skew guard as [[jaccardPairsFrom]]'s: minima of a small
    * vocabulary concentrate on few gram values, and one ultra-common
    * fingerprint would otherwise make the self-join quadratic on its
    * key. Callers pass a persisted fp relation (both join sides scan it). */
  def winnowDupPairs(fps: DataFrame, minShared: Long = 2L,
                     maxFpDf: Long = 10L): DataFrame = {
    val rare = fps
      .withColumn("df", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("df") <= maxFpDf)
      .select("doc_id", "fp")
    rare.as("a").join(rare.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }
}
