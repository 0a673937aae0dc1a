package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** PQ-ADC sanity beyond the q61 oracle (which pins the exact construction):
  * the approximation must actually approximate — recall against the exact
  * brute-force top-k. */
class PqSpec extends SparkSpec {

  /** AnnIndex.sampleHash restated (it is private by design; the specs
    * below pin that this restatement IS the training sample):
    * p = (id mod 2^31) · 2654435761, hash = xor(p, p >> 31) mod 2^20. */
  private def sampleHashCol(id: org.apache.spark.sql.Column) = {
    val p = pmod(id, lit(2147483648L)) * lit(2654435761L)
    pmod(p.bitwiseXOR(shiftright(p, 31)), lit(operators.AnnIndex.SampleDenom))
  }

  test("PQ recall on clustered corpus: planted near-neighbors are found") {
    // 40 seeded base directions, 4 noisy copies each (the structure real
    // embedding corpora have; on pure-noise data NO 8×-compressing
    // quantizer can rank near-ties — recall there is meaningless).
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows = (0 until 40).flatMap { b =>
      val base = vec()
      (0 until 5).map { c =>
        val v = if (c == 0) base
                else base.zip(vec()).map { case (x, n) => x + 0.15f * n }
        (b * 10L + c, b, v)
      }
    }
    val corpus = rows.toDF("vec_id", "label", "embedding")
    val queries = corpus.filter($"vec_id" % 10 === 0) // the 40 bases
    val exact = Similarity.bruteForceTopK(corpus, queries, 4)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(corpus, queries, 4)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    info(s"PQ recall@4 (clustered) = $recall")
    assert(recall >= 0.85, s"recall $recall")
  }

  test("sampled-train buildPq: books train on exactly the hash sample; recall within bound of full-train") {
    // the refresh-retrain cap (trainSampleMax): Lloyd runs on the
    // deterministic hash sample, the encode covers everything. Two
    // claims pinned here: (1) the training set is EXACTLY the
    // documented predicate — hash(id) < ceil(cap·2^20/n) — not merely
    // "some subset" (the q138 oracle re-proves this end-to-end in SQL);
    // (2) the quality cost is bounded: sampled-train recall stays
    // within a fixed margin of full-train recall on a clustered corpus.
    import spark.implicits._
    import graft.operators.AnnIndex
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows = (0 until 80).flatMap { b =>
      val base = vec()
      (0 until 5).map { c =>
        val v = if (c == 0) base
                else base.zip(vec()).map { case (x, n) => x + 0.15f * n }
        (b * 10L + c, v)
      }
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val work = SparkSpec.tempDir("graft_annsamp_")
    val full = work.resolve("full").toString
    val samp = work.resolve("samp").toString
    AnnIndex.buildPq(corpus, full)
    val cap = 120L
    AnnIndex.buildPq(corpus, samp, trainSampleMax = cap)
    // (1) books == pqTrain on the predicate's exact sample
    val n = corpus.count()
    val keep = (cap * AnnIndex.SampleDenom + n - 1L) / n
    val units = Similarity.unitVectors(corpus, Seq("vec_id" -> "id"),
      "embedding", "unit")
    val sampleUnits = units.filter(sampleHashCol(col("id")) < lit(keep))
    val sampleN = sampleUnits.count()
    assert(sampleN > 0 && sampleN < n, s"cap must bite: $sampleN of $n")
    info(s"hash sample: $sampleN of $n (cap $cap)")
    def bookSet(df: org.apache.spark.sql.DataFrame) = df
      .select("sub", "code", "code_vec").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    assert(bookSet(AnnIndex.pqBooks(spark, samp)) ==
           bookSet(Similarity.pqTrain(sampleUnits, 4, 16, 16, 2)),
      "sampled index must train on exactly the documented hash sample")
    // (2) recall: sampled-train within a fixed margin of full-train
    val queries = corpus.filter($"vec_id" % 10 === 0)
    val exact = Similarity.bruteForceTopK(corpus, queries, 4)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(path: String) = {
      val pq = AnnIndex.pqTopK(spark, path, queries, 4)
        .select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & pq).size.toDouble / exact.size
    }
    val rFull = recall(full)
    val rSamp = recall(samp)
    info(s"recall@4 full-train = $rFull, sampled-train = $rSamp")
    assert(rSamp >= 0.80, s"sampled-train recall $rSamp")
    assert(rSamp >= rFull - 0.10,
      s"sampled-train recall $rSamp fell more than 0.10 below full-train $rFull")
  }

  test("sampleHash spreads low-bit-aliased id sets; cap still bites (r15 verdict watch)") {
    // ids all ≡ 7 mod 2^20 — under the round-15 low-bits hash these
    // shared ONE hash value, so the sample was all-or-nothing (empty
    // here, since 7·C mod 2^20 lands above keep). The xorshift-mixed
    // hash must spread them so the cap samples ~cap of them.
    import spark.implicits._
    import graft.operators.AnnIndex
    val rnd = new scala.util.Random(13)
    val rows = (0 until 200).map { k =>
      (7L + k.toLong * (1L << 20), Array.fill(64)(rnd.nextGaussian().toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val n = corpus.count()
    // cap 32 over 200 aliased ids → a ~32-row sample, ABOVE the
    // numCodes=16 degenerate-sample floor, so the build must use it
    val cap = 32L
    val keep = (cap * AnnIndex.SampleDenom + n - 1L) / n
    val units = Similarity.unitVectors(corpus, Seq("vec_id" -> "id"),
      "embedding", "unit")
    val sampleN = units.filter(sampleHashCol(col("id")) < lit(keep)).count()
    info(s"aliased-id sample: $sampleN of $n (cap $cap)")
    assert(sampleN >= 16L, "structured ids must not starve the sample " +
      s"below the numCodes floor: $sampleN")
    assert(sampleN < n, s"cap must bite on aliased ids: $sampleN of $n")
    // and the build trains on exactly that sample, end to end
    val path = SparkSpec.tempDir("graft_annalias_")
      .resolve("pq").toString
    AnnIndex.buildPq(corpus, path, trainSampleMax = cap)
    def bookSet(df: org.apache.spark.sql.DataFrame) = df
      .select("sub", "code", "code_vec").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    assert(bookSet(AnnIndex.pqBooks(spark, path)) ==
           bookSet(Similarity.pqTrain(
             units.filter(sampleHashCol(col("id")) < lit(keep)), 4, 16, 16, 2)))
  }

  test("k-scaled training cap: AutoTrainSampleMax resolves with numCodes; warn predicate pins its boundary") {
    // r19 verdict task 1: the fixed 10k cap silently under-trains at
    // FAISS-depth k (measured at m=8/k=256: recall@10 0.052 vs 0.139
    // full-train). The code-level answer is twofold — an AUTO cap that
    // scales with the codebook, and a loud warning when an explicit cap
    // starves it. Both pinned here at their exact boundaries.
    import spark.implicits._
    import graft.operators.AnnIndex
    // the auto cap floors at the long-standing 10k (catalog geometries
    // k <= 100 resolve to exactly the value the r17/r18 rows measured)
    // and scales k·MinTrainPerCode past the floor
    assert(AnnIndex.scaledTrainCap(16) == 10000L)
    assert(AnnIndex.scaledTrainCap(100) == 10000L)
    assert(AnnIndex.scaledTrainCap(101) == 10100L)
    assert(AnnIndex.scaledTrainCap(256) == 25600L)
    // warn predicate: under-trained strictly below MinTrainPerCode/code;
    // cap=0 (off) and the exact ratio are NOT under-trained
    assert(AnnIndex.underTrainedCap(25599L, 256))
    assert(!AnnIndex.underTrainedCap(25600L, 256))
    assert(!AnnIndex.underTrainedCap(0L, 256))
    assert(AnnIndex.underTrainedCap(1599L, 16))
    assert(!AnnIndex.underTrainedCap(1600L, 16))
    // AutoTrainSampleMax flows through buildPq end-to-end: it resolves
    // to scaledTrainCap(numCodes), so a build with it equals a build
    // with the explicit resolved cap — books bit-identical
    val rnd = new scala.util.Random(23)
    val corpus = (0L until 60L)
      .map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val work = SparkSpec.tempDir("graft_annauto_")
    val auto = work.resolve("auto").toString
    val expl = work.resolve("expl").toString
    AnnIndex.buildPq(corpus, auto, trainSampleMax = AnnIndex.AutoTrainSampleMax)
    AnnIndex.buildPq(corpus, expl, trainSampleMax = AnnIndex.scaledTrainCap(16))
    def bookSet(df: org.apache.spark.sql.DataFrame) = df
      .select("sub", "code", "code_vec").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    assert(bookSet(AnnIndex.pqBooks(spark, auto)) ==
           bookSet(AnnIndex.pqBooks(spark, expl)))
  }

  test("degenerate sample (< numCodes rows) falls back to full-corpus training") {
    // an id set chosen so every id hashes ABOVE keep: the sampled
    // relation is empty, and without the guard pqTrain would seed its
    // init codes from zero rows. buildPq must fall back to training on
    // the full corpus — books identical to an uncapped build.
    import spark.implicits._
    import graft.operators.AnnIndex
    val rnd = new scala.util.Random(17)
    // keep for n=40, cap=8 is ceil(8·2^20/40) = 209716; select ids with
    // sampleHash ≥ keep (deterministic — verified below before building)
    val candidates = (0L until 400000L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val keep = (8L * AnnIndex.SampleDenom + 40L - 1L) / 40L
    val all = candidates.toDF("vec_id", "embedding")
    val badIds = Similarity.unitVectors(all, Seq("vec_id" -> "id"),
        "embedding", "unit")
      .filter(sampleHashCol(col("id")) >= lit(keep))
      .select("id").limit(40).collect().map(_.getLong(0)).toSet
    assert(badIds.size == 40)
    val corpus = all.filter(col("vec_id").isin(badIds.toSeq: _*))
    val work = SparkSpec.tempDir("graft_annempty2_")
    val capped = work.resolve("capped").toString
    val full = work.resolve("full").toString
    AnnIndex.buildPq(corpus, capped, trainSampleMax = 8L)
    AnnIndex.buildPq(corpus, full)
    def bookSet(df: org.apache.spark.sql.DataFrame) = df
      .select("sub", "code", "code_vec").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    assert(bookSet(AnnIndex.pqBooks(spark, capped)) ==
           bookSet(AnnIndex.pqBooks(spark, full)),
      "empty-sample build must fall back to full-corpus training")
  }

  test("persisted artifacts: a fresh probe from disk equals the in-session build") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val work = SparkSpec.tempDir("graft_annidx_spec_")
    val pqPath = work.resolve("pq").toString
    val ivfPath = work.resolve("ivf").toString
    val v1 = AnnIndex.buildPq(e, pqPath)
    AnnIndex.buildIvf(e, ivfPath)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // probe purely from disk — nothing of the build's lineage survives
    val fromDisk = AnnIndex.pqTopK(spark, pqPath, q, k = 5)
    val inSession = Similarity.pqTopK(e, q, k = 5)
    assert(rows(fromDisk) == rows(inSession) && fromDisk.count() > 0)
    val assignDisk = AnnIndex.ivfAssign(spark, ivfPath, e)
    val units = Similarity.unitVectors(e, Seq("vec_id" -> "id", "label" -> "cell"))
    val assignMem = Similarity.assignCells(units,
      Similarity.kmeansRefineExact(units, Similarity.exactCentroids(units), 1))
    assert(rows(assignDisk) == rows(assignMem))
    // params travel with the artifact
    assert(AnnIndex.pqParams(spark, pqPath) == AnnIndex.PqParams(4, 16, 16))
    // republish: readers pin the NEW version, old one pruned to one
    val v2 = AnnIndex.buildPq(e, pqPath)
    assert(v2 == v1 + 1)
    assert(rows(AnnIndex.pqTopK(spark, pqPath, q, k = 5)) == rows(inSession))
    // a PQ probe against an IVF artifact fails loudly, not garbage
    val err = intercept[IllegalArgumentException] {
      AnnIndex.pqParams(spark, ivfPath)
    }
    assert(err.getMessage.contains("not a PQ index"))
  }

  test("appendPq: delta layers encode with pinned books; probe == one-shot encode") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val base = e.filter(col("vec_id") % 2 === 0)
    val delta = e.filter(col("vec_id") % 2 === 1)
    val q = e.filter(col("vec_id") % 50 === 0)
    val path = SparkSpec.tempDir("graft_annappend_")
      .resolve("pq").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val v1 = AnnIndex.buildPq(base, path)
    val v2 = AnnIndex.appendPq(delta, path)
    assert(v2 == v1 + 1 && AnnIndex.pqChain(spark, path) == Seq(v2, v1))
    // layered probe == probing a one-shot encode of the FULL corpus with
    // the SAME base-trained books (append must not change any answer)
    val books = AnnIndex.pqBooks(spark, path)
    val allUnits = Similarity.unitVectors(e, Seq("vec_id" -> "id"))
    val oneShot = Similarity.pqTopKFrom(
      books, Similarity.pqEncode(allUnits, books, 4, 16), q, k = 5)
    assert(rows(AnnIndex.pqTopK(spark, path, q, k = 5)) == rows(oneShot)
      && oneShot.count() > 0)
    // re-appending ids that are already encoded fails loudly
    val err = intercept[IllegalArgumentException] {
      AnnIndex.appendPq(delta.limit(3), path)
    }
    assert(err.getMessage.contains("already encoded"))
    // a full rebuild collapses the chain and prunes below the old HEAD's
    // chain only after the NEXT publish supersedes it
    val v3 = AnnIndex.buildPq(e, path)
    assert(AnnIndex.pqChain(spark, path) == Seq(v3))
    assert(rows(AnnIndex.pqTopK(spark, path, q, k = 5))
      == rows(Similarity.pqTopK(e, q, k = 5)))
  }

  test("compactPq: chain collapses without retraining; answers and batch stamp survive") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val path = SparkSpec.tempDir("graft_anncompact_")
      .resolve("pq").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    AnnIndex.buildPq(e.filter(col("vec_id") % 2 === 0), path,
      batchId = Some(1L))
    AnnIndex.appendPq(e.filter(col("vec_id") % 2 === 1), path,
      batchId = Some(2L))
    val before = rows(AnnIndex.pqTopK(spark, path, q, k = 5))
    val booksBefore = rows(AnnIndex.pqBooks(spark, path))
    assert(AnnIndex.pqChain(spark, path).length == 2)
    AnnIndex.compactPq(spark, path)
    assert(AnnIndex.pqChain(spark, path).length == 1)
    // identical books (no retrain), identical answers, stamp carried
    assert(rows(AnnIndex.pqBooks(spark, path)) == booksBefore)
    assert(rows(AnnIndex.pqTopK(spark, path, q, k = 5)) == before)
    assert(AnnIndex.headBatch(spark, path).contains(2L))
  }

  test("IVF posting store: pruned multi-probe == cellTopKMultiProbe; scan is partition-pruned") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val path = SparkSpec.tempDir("graft_annpost_")
      .resolve("ivfp").toString
    AnnIndex.buildIvfPostings(e, path, refineIters = 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val probed = AnnIndex.postingsTopK(spark, path, q, k = 3, nprobe = 2)
    // semantics: exactly cellTopKMultiProbe over the SAME refined
    // centroids, with candidate cells re-derived from the posting store
    val units = Similarity.unitVectors(e, Seq("vec_id" -> "id", "label" -> "cell"))
    val cents = Similarity.kmeansRefineExact(
      units, Similarity.exactCentroids(units), 1)
    val corpusRefined = e.drop("label")
      .join(Similarity.assignCells(units, cents)
        .select(col("id").as("vec_id"), col("assigned_cell").as("label")), "vec_id")
    val mem = Similarity.cellTopKMultiProbe(corpusRefined, q, cents,
      k = 3, nprobe = 2)
    assert(rows(probed) == rows(mem) && probed.count() > 0)
    // the candidate read is partition-pruned: fewer files than the store
    val post = AnnIndex.ivfpPostings(spark, path)
    val allCells = post.select("cell").distinct().count()
    val someCell = post.select("cell").distinct().head().get(0)
    val pruned = post.filter(col("cell") === someCell)
    pruned.collect()
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s if s.metrics.contains("numFiles") =>
          s.metrics("numFiles").value }.get
    assert(allCells > 1)
    assert(scannedFiles(pruned) < scannedFiles({ val a = post; a.collect(); a }))
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("posting-store appends: pinned-centroid layers == one-shot build; compact invariant") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val base = e.filter(col("vec_id") % 2 === 0)
    val delta = e.filter(col("vec_id") % 2 === 1)
    val q = e.filter(col("vec_id") % 50 === 0)
    val path = SparkSpec.tempDir("graft_annpapp_spec_")
      .resolve("ivfp").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    AnnIndex.buildIvfPostings(base, path, refineIters = 1)
    AnnIndex.appendIvfPostings(delta, path)
    assert(AnnIndex.ivfpChain(spark, path).length == 2)
    // layered probe == in-session multiprobe over the SAME base-trained
    // centroids with the FULL corpus assigned to them
    val units = Similarity.unitVectors(base, Seq("vec_id" -> "id", "label" -> "cell"))
    val cents = Similarity.kmeansRefineExact(
      units, Similarity.exactCentroids(units), 1)
    val allUnits = Similarity.unitVectors(e, Seq("vec_id" -> "id"))
    val corpusAssigned = e.drop("label")
      .join(Similarity.assignCells(allUnits, cents)
        .select(col("id").as("vec_id"), col("assigned_cell").as("label")), "vec_id")
    val mem = Similarity.cellTopKMultiProbe(corpusAssigned, q, cents,
      k = 3, nprobe = 2)
    val layered = AnnIndex.postingsTopK(spark, path, q, k = 3, nprobe = 2)
    assert(rows(layered) == rows(mem) && mem.count() > 0)
    // re-appending ids already in the chain fails loudly — a duplicate
    // posting would rank the same candidate twice in every probe
    val err = intercept[IllegalArgumentException] {
      AnnIndex.appendIvfPostings(delta.limit(3), path)
    }
    assert(err.getMessage.contains("already in"))
    // compaction collapses the chain and changes nothing
    AnnIndex.compactIvfPostings(spark, path)
    assert(AnnIndex.ivfpChain(spark, path).length == 1)
    assert(rows(AnnIndex.postingsTopK(spark, path, q, k = 3, nprobe = 2))
      == rows(mem))
  }

  test("hot posting cells are salted across write tasks; answers and pruning survive") {
    import graft.operators.AnnIndex
    import spark.implicits._
    // skewed clustered corpus: cell 0 holds ~40× the rows of cells 1/2
    // (tight clusters so Lloyd assignment keeps the skew)
    val rnd = new scala.util.Random(11)
    def around(base: Array[Float]) =
      base.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val bases = Array.fill(3)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val rows = (0 until 400).map(i => (i.toLong, 0, around(bases(0)))) ++
      (0 until 10).map(i => (400L + i, 1, around(bases(1)))) ++
      (0 until 10).map(i => (410L + i, 2, around(bases(2))))
    val corpus = rows.toDF("vec_id", "label", "embedding")
    val q = corpus.filter($"vec_id" % 40 === 0)
    val work = SparkSpec.tempDir("graft_annskew_")
    val salted = work.resolve("salted").toString
    val plain = work.resolve("plain").toString
    // cap 50 → the hot cell must fan out across ~8 write tasks; the
    // small cells stay single-file
    AnnIndex.buildIvfPostings(corpus, salted, refineIters = 1, cellTaskCap = 50)
    AnnIndex.buildIvfPostings(corpus, plain, refineIters = 1)
    def partFiles(root: String, cell: String): Int = {
      val vdir = new java.io.File(root).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("v-")).head
      new java.io.File(vdir, s"postings/cell=$cell").listFiles()
        .count(_.getName.startsWith("part-"))
    }
    val cellOf = AnnIndex.ivfpPostings(spark, salted)
      .groupBy("cell").count().collect()
      .map(r => (r.get(0).toString, r.getLong(1))).toMap
    val hot = cellOf.maxBy(_._2)._1
    val cold = cellOf.minBy(_._2)._1
    assert(cellOf(hot) >= 300 && cellOf(cold) <= 20) // the skew took
    assert(partFiles(salted, hot) > 1, "hot cell should span several files")
    assert(partFiles(salted, cold) == 1, "small cells stay one file")
    // the salt is invisible to probes: answers == the unsalted build,
    // and the candidate scan still prunes on cell alone
    def rows2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val probed = AnnIndex.postingsTopK(spark, salted, q, k = 3, nprobe = 2)
    assert(rows2(probed) == rows2(
      AnnIndex.postingsTopK(spark, plain, q, k = 3, nprobe = 2)))
    assert(probed.count() > 0)
    val post = AnnIndex.ivfpPostings(spark, salted)
    val pruned = post.filter(col("cell") === hot)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("checkDisjoint=false appends still reject duplicate ids via the bloom guard") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val base = e.filter(col("vec_id") % 2 === 0)
    val delta = e.filter(col("vec_id") % 2 === 1)
    val work = SparkSpec.tempDir("graft_annbloom_")
    val pq = work.resolve("pq").toString
    val ivfp = work.resolve("ivfp").toString
    AnnIndex.buildPq(base, pq)
    AnnIndex.buildIvfPostings(base, ivfp, refineIters = 1)
    // a clean disjoint delta passes without the exact chain scan
    AnnIndex.appendPq(delta, pq)
    AnnIndex.appendIvfPostings(delta, ivfp)
    // a violated contract — re-appending ids the chain already holds —
    // fails LOUDLY even with the exact check opted out: this is the
    // silent-ADC-doubling class the guard exists for
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.appendPq(base.limit(5), pq)
    }
    assert(e1.getMessage.contains("already in the chain"))
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.appendIvfPostings(delta.limit(5), ivfp)
    }
    assert(e2.getMessage.contains("already in the chain"))
  }

  test("delete+put in one call: live ids appended with their own tombstones replace in place on both stores") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val changed = e.filter(col("vec_id") % 10 === 0) // all live in the base
    val q = e.filter(col("vec_id") % 50 === 1)
    val work = SparkSpec.tempDir("graft_annput_")
    val pq = work.resolve("pq").toString
    val ivfp = work.resolve("ivfp").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val ids = Some(changed.select("vec_id"))

    // every re-appended id is live, so the bloom guard hits and the
    // exact chain scan runs: it must exclude the ids this very layer
    // tombstones, or the legal delete+put would be rejected
    AnnIndex.buildPq(e, pq)
    val codes = AnnIndex.pqCodes(spark, pq).count()
    AnnIndex.appendPq(changed, pq, removals = ids)
    assert(AnnIndex.pqChain(spark, pq).length == 2)
    assert(AnnIndex.pqCodes(spark, pq).count() == codes) // no duplicates
    val books = AnnIndex.pqBooks(spark, pq)
    val truth = Similarity.pqTopKFrom(books, Similarity.pqEncode(
      Similarity.unitVectors(e, Seq("vec_id" -> "id")), books, 4, 16), q, k = 5)
    assert(rows(AnnIndex.pqTopK(spark, pq, q, k = 5)) == rows(truth)
      && truth.count() > 0)

    AnnIndex.buildIvfPostings(e, ivfp, refineIters = 1)
    val posts = AnnIndex.ivfpPostings(spark, ivfp).count()
    val oneShot = rows(AnnIndex.postingsTopK(spark, ivfp, q, k = 3, nprobe = 2))
    AnnIndex.appendIvfPostings(changed, ivfp, removals = ids)
    assert(AnnIndex.ivfpChain(spark, ivfp).length == 2)
    assert(AnnIndex.ivfpPostings(spark, ivfp).count() == posts)
    assert(rows(AnnIndex.postingsTopK(spark, ivfp, q, k = 3, nprobe = 2)) == oneShot
      && oneShot.nonEmpty)
  }

  test("tombstone layers: deletes hide ids at probe, replace in one call, drop physically at compaction, re-add revives") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 === 1)
    val dead = e.filter(col("vec_id") % 10 === 0) // ⊂ evens
    val q = e.filter(col("vec_id") % 50 === 1)
    val work = SparkSpec.tempDir("graft_anndel_")
    val pq = work.resolve("pq").toString
    val ivfp = work.resolve("ivfp").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def deadIds = dead.select("vec_id")

    // PQ: build on evens, append odds WITH a tombstone set — probes
    // must equal a one-shot encode of (all minus dead) under the same
    // base-trained books
    AnnIndex.buildPq(evens, pq)
    AnnIndex.appendPq(odds, pq, removals = Some(deadIds))
    val books = AnnIndex.pqBooks(spark, pq)
    val liveCorpus = e.join(deadIds, Seq("vec_id"), "left_anti")
    val liveUnits = Similarity.unitVectors(liveCorpus, Seq("vec_id" -> "id"))
    val truth = Similarity.pqTopKFrom(books,
      Similarity.pqEncode(liveUnits, books, 4, 16), q, k = 5)
    assert(rows(AnnIndex.pqTopK(spark, pq, q, k = 5)) == rows(truth)
      && truth.count() > 0)
    // compaction drops the dead ids PHYSICALLY: the compacted head's
    // codes table no longer contains them, and answers are unchanged
    AnnIndex.compactPq(spark, pq)
    assert(AnnIndex.pqChain(spark, pq).length == 1)
    val headDir = new java.io.File(pq).listFiles()
      .filter(_.getName.startsWith("v-")).map(_.getName).max
    val headCodes = spark.read.parquet(s"$pq/$headDir/codes")
    assert(headCodes.join(deadIds.withColumnRenamed("vec_id", "id"),
      Seq("id")).count() == 0)
    assert(rows(AnnIndex.pqTopK(spark, pq, q, k = 5)) == rows(truth))
    // a deleted id is legal to re-append — the LSM re-add
    AnnIndex.appendPq(dead, pq)
    val allUnits = Similarity.unitVectors(e, Seq("vec_id" -> "id"))
    assert(rows(AnnIndex.pqTopK(spark, pq, q, k = 5)) == rows(
      Similarity.pqTopKFrom(books,
        Similarity.pqEncode(allUnits, books, 4, 16), q, k = 5)))

    // posting store: same lifecycle — tombstoned ids never surface as
    // candidates, compaction drops them from the parquet itself
    AnnIndex.buildIvfPostings(evens, ivfp, refineIters = 1)
    AnnIndex.appendIvfPostings(odds, ivfp, removals = Some(deadIds))
    // partition pruning survives the tombstone fold: a cell filter on
    // the layered+anti-joined relation still reaches every layer's
    // scan as a PARTITION filter (the probe side of postingsTopK)
    val folded = AnnIndex.ivfpPostings(spark, ivfp)
    val someCell = folded.select("cell").distinct().head().get(0)
    val planStr = folded.filter(col("cell") === someCell)
      .queryExecution.executedPlan.toString
    val cellPartFilters =
      """PartitionFilters: \[[^\]]*cell""".r.findAllIn(planStr).size
    assert(cellPartFilters >= 2, // one per code/posting layer scan
      s"cell filter did not prune the layered scans:\n${planStr.take(1200)}")
    val probed = AnnIndex.postingsTopK(spark, ivfp, q, k = 3, nprobe = 2)
    assert(probed.join(deadIds.withColumnRenamed("vec_id", "cand_id"),
      Seq("cand_id")).count() == 0 && probed.count() > 0)
    val before = rows(probed)
    AnnIndex.compactIvfPostings(spark, ivfp)
    val pHeadDir = new java.io.File(ivfp).listFiles()
      .filter(_.getName.startsWith("v-")).map(_.getName).max
    assert(spark.read.parquet(s"$ivfp/$pHeadDir/postings")
      .join(deadIds.withColumnRenamed("vec_id", "id"), Seq("id"))
      .count() == 0)
    assert(rows(AnnIndex.postingsTopK(spark, ivfp, q, k = 3, nprobe = 2))
      == before)
  }

  test("long tomb chains: one anti-join probe per data row, LSM re-adds and answers survive") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def slice(d: Int) = e.filter(col("vec_id") % 5 === d)
    val work = SparkSpec.tempDir("graft_anntombchain_")
    val pq = work.resolve("pq").toString
    // root on slice 0, then three appends EACH carrying a tombstone set
    // — layer 3 RE-ADDS the ids layer 1 tombstoned (legal LSM re-add:
    // a tomb kills strictly-older layers only) — then a REMOVAL-ONLY
    // layer on top (empty delta + tombs, the daily loop's
    // vec_removals-without-embeddings shape)
    val r1 = slice(0).filter(col("vec_id") % 10 === 0)
    val r2 = slice(1).filter(col("vec_id") % 10 === 1)
    val r3 = slice(2).filter(col("vec_id") % 10 === 2)
    val r4 = slice(3).filter(col("vec_id") % 10 === 3)
    AnnIndex.buildPq(slice(0), pq)
    AnnIndex.appendPq(slice(1), pq, removals = Some(r1.select("vec_id")))
    AnnIndex.appendPq(slice(2), pq, removals = Some(r2.select("vec_id")))
    AnnIndex.appendPq(r1, pq, removals = Some(r3.select("vec_id")))
    AnnIndex.appendPq(e.limit(0), pq, removals = Some(r4.select("vec_id")))
    assert(AnnIndex.pqChain(spark, pq).length == 5)
    // the fold expresses ALL tomb layers as one layer-stamped anti-join
    // sitting ABOVE the layer union: every data row flows up through
    // the union and is probed exactly ONCE against the one (tiny,
    // removal-sized) broadcast-hashed tomb relation, the per-row
    // `tomb_layer > layer` predicate deciding survival. (It is FILTERS
    // — cell/partition predicates — that push below the union to each
    // layer's scan, not the join itself; the join stays put, and once
    // is all it runs.) The old per-tomb-layer fold STACKED k sequential
    // anti-joins on the data path and probed every row k times —
    // assert structurally that no anti-join feeds another's data side
    val codes = AnnIndex.pqCodes(spark, pq)
    val lp = codes.queryExecution.optimizedPlan
    val antis = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(antis.nonEmpty, "tomb layers must fold through an anti-join")
    antis.foreach { j =>
      val stacked = j.left.collect {
        case jj: org.apache.spark.sql.catalyst.plans.logical.Join
          if jj.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => jj
      }
      assert(stacked.isEmpty,
        s"anti-joins stack on the data path (rows probed more than once):\n$lp")
    }
    // answers equal a one-shot encode of the surviving live set under
    // the root books: slice 0 whole (its r1 tombs were re-added by a
    // NEWER layer and the re-add survives r1's older tombstone),
    // slices 1/2 minus their later tombs, slice 3 absent
    val live = slice(0)
      .unionByName(slice(1).join(r2.select("vec_id"), Seq("vec_id"), "left_anti"))
      .unionByName(slice(2).join(r3.select("vec_id"), Seq("vec_id"), "left_anti"))
    val q = e.filter(col("vec_id") % 50 === 1)
    val books = AnnIndex.pqBooks(spark, pq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val truth = Similarity.pqTopKFrom(books,
      Similarity.pqEncode(
        Similarity.unitVectors(live, Seq("vec_id" -> "id")), books, 4, 16),
      q, k = 5)
    assert(rows(AnnIndex.pqTopK(spark, pq, q, k = 5)) == rows(truth)
      && truth.count() > 0)
    // compaction collapses the whole thing and answers still hold
    AnnIndex.compactPq(spark, pq)
    assert(AnnIndex.pqChain(spark, pq).length == 1)
    assert(rows(AnnIndex.pqTopK(spark, pq, q, k = 5)) == rows(truth))
  }

  test("compacting a fully-tombstoned chain stays readable; a later append revives it") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 === 1)
    val q = e.filter(col("vec_id") % 50 === 1)
    val work = SparkSpec.tempDir("graft_annempty_")
    val pq = work.resolve("pq").toString
    val ivfp = work.resolve("ivfp").toString
    // delete EVERYTHING, then compact: the compacted root carries zero
    // rows but must stay a readable, probe-able artifact (the posting
    // side's dynamic-partitioned write of nothing used to leave an
    // unreadable _SUCCESS-only directory)
    AnnIndex.buildPq(evens, pq)
    AnnIndex.appendPq(e.limit(0), pq, removals = Some(evens.select("vec_id")))
    AnnIndex.compactPq(spark, pq)
    assert(AnnIndex.pqCodes(spark, pq).count() == 0)
    assert(AnnIndex.pqTopK(spark, pq, q, k = 5).count() == 0)
    AnnIndex.buildIvfPostings(evens, ivfp, refineIters = 1)
    AnnIndex.appendIvfPostings(e.limit(0), ivfp,
      removals = Some(evens.select("vec_id")))
    AnnIndex.compactIvfPostings(spark, ivfp)
    assert(AnnIndex.ivfpPostings(spark, ivfp).count() == 0)
    assert(AnnIndex.postingsTopK(spark, ivfp, q, k = 3, nprobe = 2).count() == 0)
    // total deletion is not the end of the store: the root's quantizer
    // survives, so a later delta appends and probes normally
    AnnIndex.appendPq(odds, pq)
    assert(AnnIndex.pqTopK(spark, pq, q, k = 5).count() > 0)
    AnnIndex.appendIvfPostings(odds, ivfp)
    assert(AnnIndex.ivfpPostings(spark, ivfp).count() == odds.count())
    assert(AnnIndex.postingsTopK(spark, ivfp, q, k = 3, nprobe = 2).count() > 0)
  }

  test("a cyclic parent pointer in a tampered sidecar fails loudly, never loops") {
    import graft.operators.AnnIndex
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val work = SparkSpec.tempDir("graft_anncycle_")
    val path = work.resolve("pq").toString
    AnnIndex.buildPq(e.filter(col("vec_id") % 2 === 0), path)
    val v2 = AnnIndex.appendPq(e.filter(col("vec_id") % 2 === 1), path)
    // tamper: the delta layer now names ITSELF as parent — a naive chain
    // walk would spin forever instead of surfacing the corruption
    val meta = java.nio.file.Paths.get(path, f"v-$v2%05d", "_graft_ann")
    java.nio.file.Files.write(meta,
      s"pq-delta $v2 4 16 16".getBytes("UTF-8"))
    // drop the local-FS checksum sidecar the out-of-band write broke
    java.nio.file.Files.deleteIfExists(
      meta.resolveSibling("._graft_ann.crc"))
    val err = intercept[IllegalArgumentException] {
      AnnIndex.pqChain(spark, path)
    }
    assert(err.getMessage.contains("strictly older"))
  }

  test("PQ codes are drawn from the codebook and cover every (vector, subspace)") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cu = Similarity.unitVectors(e, Seq("vec_id" -> "id"))
    val books = Similarity.pqTrain(cu, m = 4, subLen = 16, k = 16)
    assert(books.count() == 4 * 16) // full codebook per subspace
    val codes = Similarity.pqEncode(cu, books, m = 4, subLen = 16)
    val n = e.count()
    assert(codes.count() == n * 4) // one code per (vector, subspace)
    val used = codes.select("code").distinct().collect().map(_.getInt(0)).toSet
    assert(used.subsetOf((0 until 16).toSet))
  }

  test("pqEncode aggregation form == window row_number reference, ties included") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val units = Similarity.unitVectors(e, Seq("vec_id" -> "id"))
    val books = Similarity.pqTrain(units, m = 4, subLen = 16, k = 16, iters = 1)
      .localCheckpoint()
    // the window form pqEncode used before r21 — the literal reference
    val w = Window.partitionBy(col("id"), col("sub"))
      .orderBy(col("s").desc, col("code").asc)
    val subs = units.select(col("id"), explode(array((0 until 4).map(s =>
        struct(lit(s).as("sub"),
               slice(col("unit"), s * 16 + 1, 16).as("sv"))): _*)).as("x"))
      .select(col("id"), col("x.sub").as("sub"), col("x.sv").as("sv"))
    val windowForm = subs.join(broadcast(books), "sub")
      .select(col("id"), col("sub"), col("code"),
              Similarity.dot(col("sv"), col("code_vec")).as("s"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("sub"), col("code"))
    val aggForm = Similarity.pqEncode(units, books, 4, 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    val (aRows, wRows) = (rows(aggForm), rows(windowForm))
    assert(aRows == wRows && aRows.nonEmpty)
    // and the plan genuinely lost the sort: no Window node in the agg form
    assert(!aggForm.queryExecution.executedPlan.toString.contains("Window"))
  }
}
