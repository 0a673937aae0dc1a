package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away today"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away tonight"), // near-dup of 1
    (3L, "completely different content about spark shuffles and partitions here"),
    (4L, "the quick brown fox jumps over the lazy dog and runs far away today"),   // exact dup of 1
    (5L, "tiny doc") // < 3 tokens -> no shingles
  ).toDF("doc_id", "text")

  test("incremental minhash == full recompute restricted to delta-touching pairs") {
    // Split the sf0.001 documents table: every 5th doc arrives as a delta.
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpusSh = Dedup.explodedShingles(
      Dedup.shingleSets(docs.filter($"doc_id" % 5 =!= 0)))
    val deltaSh = Dedup.explodedShingles(
      Dedup.shingleSets(docs.filter($"doc_id" % 5 === 0)))
    val incr = Dedup.minhashPairsIncremental(corpusSh, deltaSh, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashDupPairs(docs, 0.8)
      .filter($"a_id" % 5 === 0 || $"b_id" % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr.nonEmpty) // the split must actually exercise cross pairs
    assert(incr == full)
  }

  test("on-disk band index: cross-session probe == in-memory incremental, partition-pruned") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpusSh = Dedup.explodedShingles(
      Dedup.shingleSets(docs.filter($"doc_id" % 5 =!= 0)))
    val deltaSh = Dedup.explodedShingles(
      Dedup.shingleSets(docs.filter($"doc_id" % 5 === 0)))
    val idx = SparkSpec.tempDir("graft_bandidx")
      .resolve("idx").toString
    graft.operators.BandIndex.write(corpusSh, idx)

    // Probe from a FRESH session: no SQL/catalog state survives from the
    // build — layout and banding family come from the on-disk sidecar,
    // the index rows from the directories. This is the daily-delta tick
    // of a deployment whose nightly build ran in another JVM.
    val s2 = spark.newSession()
    val docs2 = Tables.load(s2, "/root/testdata/sf0.001", "documents")
    val corpusSh2 = Dedup.explodedShingles(
      Dedup.shingleSets(docs2.filter(col("doc_id") % 5 =!= 0)))
    val deltaSh2 = Dedup.explodedShingles(
      Dedup.shingleSets(docs2.filter(col("doc_id") % 5 === 0)))
    val fromDisk = graft.operators.BandIndex
      .minhashPairsFromIndex(idx, corpusSh2, deltaSh2, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMem = Dedup.minhashPairsIncremental(corpusSh, deltaSh, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromDisk.nonEmpty && fromDisk == inMem)

    // The probe read is PARTITION-PRUNED: restricting to a few touched
    // buckets must plan a partition filter and open strictly fewer files
    // than the full index — the O(delta + matched buckets) claim.
    val l = graft.operators.BandIndex.layout(spark, idx)
    assert(l.buckets == 64 && l.numHashes == 64 && l.bands == 16)
    // inputFiles ignores pruning — read the SCAN NODE's executed metrics.
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s if s.metrics.contains("numFiles") =>
          s.metrics("numFiles").value }.get
    }
    val all = filesScanned(
      spark.read.parquet(graft.operators.BandIndex.currentPath(spark, idx))
        .select("doc_id", "band", "bkey"))
    val pruned = graft.operators.BandIndex.readTouched(spark, idx, Seq(0L, 1L))
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    val prunedFiles = filesScanned(pruned)
    assert(prunedFiles < all, s"pruned read opened $prunedFiles of $all files")

    // Atomic publish: a REBUILD lands as a new committed version; the
    // previous version is retained for in-flight probes, anything older
    // pruned; the probe keeps answering through the rebuild.
    graft.operators.BandIndex.write(corpusSh, idx)
    graft.operators.BandIndex.write(corpusSh, idx)
    val vdirs = new java.io.File(idx)
      .listFiles.filter(_.isDirectory).map(_.getName).filter(_.startsWith("v-")).sorted
    assert(vdirs.length == 2, s"expected current+previous, got ${vdirs.toSeq}")
    assert(graft.operators.BandIndex.currentPath(spark, idx).endsWith(vdirs.last))
    val afterRebuild = graft.operators.BandIndex
      .minhashPairsFromIndex(idx, corpusSh2, deltaSh2, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(afterRebuild == inMem)
  }

  test("band index layers: append == rebuild, chain survives pruning, write() compacts") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def sh(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Dedup.explodedShingles(Dedup.shingleSets(docs.filter(p($"doc_id"))))
    val baseSh = sh(id => id % 5 === 1 || id % 5 === 2 || id % 5 === 3)
    val d1Sh = sh(id => id % 5 === 4)
    val d2Sh = sh(id => id % 5 === 0)
    val B = graft.operators.BandIndex

    // layered: base build + day-1 append, day-2 probe
    val idx = SparkSpec.tempDir("graft_bandidx_layer")
      .resolve("idx").toString
    B.write(baseSh, idx) // v1
    B.append(d1Sh, idx)  // v2 → parent v1
    val vnames = new java.io.File(idx).listFiles
      .filter(_.isDirectory).map(_.getName).sorted
    // the parent layer must SURVIVE the append's prune — it is the index
    assert(vnames.toSeq == Seq("v-00001", "v-00002"), vnames.toSeq)
    val layered = B.minhashPairsFromIndex(idx, baseSh.union(d1Sh), d2Sh, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // monolithic truth: one index over base ∪ d1
    val idx2 = SparkSpec.tempDir("graft_bandidx_mono")
      .resolve("idx").toString
    B.write(baseSh.union(d1Sh), idx2)
    val mono = B.minhashPairsFromIndex(idx2, baseSh.union(d1Sh), d2Sh, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(layered.nonEmpty && layered == mono)

    // a second append layers on the first (chain of three)
    B.append(d2Sh, idx) // v3 → parent v2
    assert(new java.io.File(idx).listFiles.filter(_.isDirectory).length == 3)
    // readTouched over every bucket now sees all three layers' docs
    val l = B.layout(spark, idx)
    val allDocs = B.readTouched(spark, idx, (0L until l.buckets).toSeq)
      .select("doc_id").distinct().count()
    val expected = docs.select("doc_id").distinct().count()
    assert(allDocs == expected, s"chain read saw $allDocs of $expected docs")

    // compaction: a full write() collapses the chain; one prior version
    // (the previous pinned head) is retained WITH its ancestor layers
    // for in-flight probes, and the next write sweeps them
    B.write(baseSh.union(d1Sh).union(d2Sh), idx) // v4 (keeps v3's chain)
    B.write(baseSh.union(d1Sh).union(d2Sh), idx) // v5 (keeps v4 only)
    val after = new java.io.File(idx).listFiles
      .filter(_.isDirectory).map(_.getName).sorted
    assert(after.toSeq == Seq("v-00004", "v-00005"), after.toSeq)
  }

  test("band index: a crashed build's junk version is swept, the committed predecessor survives") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sh = Dedup.explodedShingles(Dedup.shingleSets(docs.limit(20)))
    val idx = SparkSpec.tempDir("graft_bandidx_crash")
      .resolve("idx").toString
    graft.operators.BandIndex.write(sh, idx) // v1, committed
    // simulate a build that claimed v2 and wrote parquet but DIED before
    // commit: claim file + directory with no sidecar
    val root = new java.io.File(idx)
    new java.io.File(root, "v-00002").mkdirs()
    new java.io.File(root, "v-00002/part-junk.parquet").createNewFile()
    new java.io.File(root, ".claim-v-00002").createNewFile()
    // current must still resolve to the committed v1, not the junk
    assert(graft.operators.BandIndex.currentPath(spark, idx).endsWith("v-00001"))
    // the next build must skip the claimed number (no same-dir race),
    // keep v1 (the version an in-flight probe could have pinned), and
    // sweep the junk v2 + its claim
    graft.operators.BandIndex.write(sh, idx) // claims v3
    val names = root.listFiles.map(_.getName).toSet
    assert(graft.operators.BandIndex.currentPath(spark, idx).endsWith("v-00003"))
    assert(names.contains("v-00001") && names.contains("v-00003"))
    assert(!names.contains("v-00002") && !names.contains(".claim-v-00002"))
  }

  test("band index: a sibling append that would be shadowed fails loudly") {
    val B = graft.operators.BandIndex
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sh = Dedup.explodedShingles(Dedup.shingleSets(docs.limit(20)))
    val d1 = Dedup.explodedShingles(Dedup.shingleSets(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0).limit(10)))
    val d2 = Dedup.explodedShingles(Dedup.shingleSets(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1).limit(10)))
    val idx = SparkSpec.tempDir("graft_bandidx_sib")
      .resolve("idx").toString
    B.write(sh, idx) // v1, committed head
    // two ticks pin the SAME parent (v1) — the out-of-band append a
    // misconfigured second scheduler would produce
    val t1 = new B.DeltaTick(idx, d1)
    val t2 = new B.DeltaTick(idx, d2)
    t1.append() // v2, head moves 1 → 2
    // the sibling must fail loudly instead of silently shadowing v2
    val e = intercept[IllegalStateException] { t2.append() }
    assert(e.getMessage.contains("shadow"), e.getMessage)
    // the abandoned version left no DATA behind (un-commit swept it);
    // only the burned claim file remains so v3 is never re-claimed
    val junk = new java.io.File(idx).listFiles.map(_.getName)
      .filter(n => n.contains("v-00003"))
    assert(junk.forall(_.contains(".claim-")), junk.toSeq) // + hadoop .crc
    // the committed chain is unharmed: head is still t1's layer
    assert(B.currentPath(spark, idx).endsWith("v-00002"))
    // and a correctly re-pinned tick (parent = new head) appends fine
    new B.DeltaTick(idx, d2).append()
    assert(B.currentPath(spark, idx).endsWith("v-00004"))
  }

  test("band index fails loudly: unbuilt path, zero buckets") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sh = Dedup.explodedShingles(Dedup.shingleSets(docs.limit(5)))
    val empty = SparkSpec.tempDir("graft_bandidx_none")
      .resolve("never_built").toString
    // an unbuilt index must never silently probe as an empty corpus
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.BandIndex.layout(spark, empty)
    }
    assert(e1.getMessage.contains("no committed band index"))
    // buckets <= 0 would send every row to the null partition and make
    // every probe silently empty — rejected at build time
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.BandIndex.write(sh, empty, buckets = 0)
    }
    assert(e2.getMessage.contains("buckets"))
  }

  test("verifyPairs pins an RDD-backed candidate frame: its lineage runs once") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sh = Dedup.explodedShingles(Dedup.shingleSets(corpus))
    val seen = spark.sparkContext.longAccumulator("candidate rows")
    val pairs = Seq((1L, 2L), (1L, 4L), (2L, 4L), (1L, 3L))
    val rdd = spark.sparkContext.parallelize(pairs, 2).map { case (a, b) =>
      seen.add(1L); Row(a, b)
    }
    val cand = spark.createDataFrame(rdd,
      StructType(Seq(StructField("a_id", LongType), StructField("b_id", LongType))))
    assert(Dedup.verifyPairs(cand, sh, 0.5).collect().nonEmpty)
    assert(seen.value == pairs.size,
      s"candidate lineage ran ${seen.value / pairs.size.toDouble} times")
  }

  test("exact dedup groups identical texts") {
    val g = Dedup.exactGroups(corpus)
    assert(g.count() == 4)
    val dup = g.filter(col("copies") === 2).head()
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("exact jaccard finds the near-dup pair and the exact pair") {
    val pairs = Dedup.jaccardPairs(Dedup.shingleSets(corpus), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(pairs.find(p => p._1 == 1L && p._2 == 4L).get._3 == 1.0)
  }

  test("minhash LSH reproduces the exact-jaccard answer on this corpus") {
    val exact = Dedup.jaccardPairs(Dedup.shingleSets(corpus), 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDupPairs(corpus, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("simhash: identical docs share signatures; near-dups within hamming 3") {
    val sim = Dedup.simhash(corpus)
    val sigs = sim.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(4L)) // identical text, identical signature
    val pairs = Dedup.simhashDupPairs(sim, maxHamming = 3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // distinct doc stays out
  }

  test("simhash bucket cap: an over-populated band bucket cannot go quadratic") {
    // 250 docs share ONE signature (every band bucket holds all 250 —
    // the degenerate cluster the sf1 rehearsal hit at 40k docs), plus a
    // normal near-dup pair one bit apart whose buckets hold 2 docs.
    val hot = (1L to 250L).map(id => (id, 0x5A5A5A5A5A5A5A5AL))
    val pair = Seq((1000L, 0x0F0F0F0F0F0F0F0FL), (1001L, 0x0F0F0F0F0F0F0F0EL))
    val sim = (hot ++ pair).toDF("doc_id", "simhash")
    val capped = Dedup.simhashDupPairs(sim, maxHamming = 3, maxBucket = 200L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the fanout bound: the 250-cluster's C(250,2) pairs are dropped
    // with its buckets; the normal pair still surfaces
    assert(capped == Set((1000L, 1001L)))
    // uncapped (maxBucket <= 0) keeps the quadratic ground truth
    val uncapped = Dedup.simhashDupPairs(sim, maxHamming = 3, maxBucket = 0L)
    assert(uncapped.count() == 250L * 249 / 2 + 1)
  }

  test("clusters: connected components collapse transitively-linked dups") {
    // 1-2, 2-4 chain (1-4 also direct) + isolated pair 7-8
    val pairs = Seq((1L, 2L), (2L, 4L), (1L, 4L), (7L, 8L)).toDF("a_id", "b_id")
    val out = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("clusters: chain needing multiple propagation rounds converges") {
    val chain = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a_id", "b_id")
    val out = Dedup.clusters(chain).collect().map(r => r.getLong(1)).distinct
    assert(out.toSeq == Seq(1L)) // one component, min id 1
  }

  test("LSH recall: generated corpus with graded overlap matches exact answer") {
    // 40 base docs of 60 words; dups share a prefix of graded length so
    // pair similarities span ~0.55..1.0 around the 0.8 threshold.
    val vocab = (0 until 300).map(i => s"w$i")
    val rnd = new scala.util.Random(7)
    val bases = (0 until 40).map { d =>
      (d.toLong, Seq.fill(60)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val dups = (0 until 40).map { d =>
      val keep = 20 + d // graded overlap: 20..59 of 60 words
      val words = bases(d)._2.split(" ").take(keep) ++
        Seq.fill(60 - keep)(vocab(rnd.nextInt(vocab.size)))
      (1000L + d, words.mkString(" "))
    }
    val corpus = (bases ++ dups).toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(Dedup.shingleSets(corpus), 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDupPairs(corpus, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "generated corpus should contain pairs above threshold")
    assert(lsh == exact,
      s"LSH missed ${exact -- lsh} / invented ${lsh -- exact}")
  }

  test("shingles: docs under n tokens produce empty sets, not errors") {
    val sets = Dedup.shingleSets(corpus)
    assert(sets.filter(col("doc_id") === 5L).select(size(col("shingles")))
      .head().getInt(0) == 0)
  }

  test("containment catches a small doc quoted inside a big one; jaccard misses it") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, small), (2L, s"$filler $small")).toDF("doc_id", "text")
    val sets = Dedup.shingleSets(docs)
    val cont = Dedup.containmentPairs(sets, 0.9).collect()
    assert(cont.length == 1 && cont.head.getDouble(2) == 1.0)
    val jac = Dedup.jaccardPairs(sets, 0.8).collect()
    assert(jac.isEmpty) // |A|=6 shingles inside |B|=66+ → jaccard ≈ 0.09
  }

  test("containment via LSH candidates matches the exact all-pairs answer") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(
      Dedup.containmentPairs(Dedup.shingleSets(docs), 0.9, maxShingleDf = 0L))
    val viaLsh = pairSet(Dedup.containmentDupPairs(docs, 0.9))
    assert(viaLsh == exact)
  }

  test("winnowing: shared runs ≥ window+gram-1 tokens share a fingerprint") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"one two three $run four five six"),
      (2L, s"seven eight nine ten $run eleven"),
      (3L, "completely different words about other topics entirely here now"),
      (4L, "tiny doc"), // < gram tokens → no fingerprints, no crash
      (5L, "alpha beta gamma") // exactly one gram → single-window minimum
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // coverage guarantee: the 10-token shared run must yield ≥1 shared fp
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps.getOrElse(3L, Set.empty[Long]) & fps(1L)).isEmpty)
    assert(!fps.contains(4L))
    assert(fps(5L).size == 1)
    // pair extraction: the planted 10-token run pairs 1-2, and doc 5's
    // single gram ("alpha beta gamma" = the run's head) legitimately
    // pairs it with both; doc 3 pairs with nothing
    val pairs = Dedup.winnowDupPairs(
        Dedup.winnowFingerprints(docs), minShared = 1L)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("shingle pipeline answers survive the parallelism floor (minhash pairs unchanged)") {
    // the floor repartitions BEFORE the tokenizer; every consumer is an
    // order-independent aggregate, so the verified pair set is identical
    // to a single-partition run (coalesce(1) forces the unfloored shape
    // through the same code — ensureParallel of a 1-partition frame
    // repartitions, so compare against a narrow fixed-partition run via
    // the raw pair functions on a pre-exploded relation)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val viaFloor = Dedup.minhashDupPairs(docs, 0.8)
      .orderBy("a_id", "b_id").collect().toSeq
    val sh1 = Dedup.explodedShingles(
      Dedup.shingleSets(docs).coalesce(1)).localCheckpoint()
    val narrow = Dedup.minhashPairsFrom(sh1, 0.8)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(viaFloor == narrow && viaFloor.nonEmpty)
  }
}
