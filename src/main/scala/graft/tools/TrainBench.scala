package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, Similarity}

/** Isolates the PQ TRAINING term that the refresh retrain's
  * `trainSampleMax` cap bounds: times `Similarity.pqTrain` over the
  * full unit relation vs the deterministic hash sample, across a sweep
  * of (trainIters, numCodes) geometries. The catalog queries pin the
  * oracle-mirrorable geometry (iters=2, k=16 — two Lloyd rounds DuckDB
  * can unroll), where training is a minor share of a refresh tick next
  * to the O(corpus) encode; the term the cap exists for is the one
  * that GROWS with production geometry — Lloyd cost is
  * O(corpus × iters × k), so at FAISS-like depths (k=256, 25 iters)
  * full-corpus training dominates the tick while the capped sample
  * stays flat. This tool measures exactly that pair.
  *
  * `repl` replicates the corpus in-session with disjoint id offsets —
  * Lloyd's per-round cost is row-count-driven (assign + means scan
  * every row regardless of geometry), so replication measures the row
  * term at corpora the fixture dirs don't reach without generating
  * scale-K parquet first. Replica offsets stride by an ODD PRIME
  * (2000003) inside the hash's 31-bit id domain, so replicas land in
  * distinct sampleHash classes and the sampled relation holds ~cap
  * DISTINCT vectors — the round-15 `i << 32` offsets preserved
  * id mod 2^31, making every "sampled" row a duplicate of the same
  * cap/repl originals (timing-valid, diversity-misleading; ADVICE r15).
  * The stride bounds repl: (repl-1)·2000003 + maxId must stay < 2^31,
  * i.e. repl ≤ ~1073 for the 2k-vector sf0.1 fixture.
  *
  * Partition-shape caveat: the replica union inherits one scan branch
  * per replica, so a huge repl over a tiny fixture (sf0.1 × 1000)
  * yields thousands of ~2k-row partitions and the measurement becomes
  * task-overhead-bound (measured: the SAME 2M rows cost 79 s full /
  * 61 s sampled that way vs 24 s / 4 s from sf10 × 10). Reach target
  * row counts from the LARGEST available scale dir with a small repl —
  * the recorded sweeps use ScaleData's /tmp/sf10 with repl=10.
  * `--recall` answers the question the timing sweep cannot: does the
  * cap cost QUALITY at real geometry? It trains the catalog-geometry
  * codebooks (m=4, subLen=16, k=16, iters=2) on the full corpus and on
  * the sample, encodes the SAME corpus with each, and reports recall@10
  * of the PQ-ADC probe against exact brute-force top-10 for a fixed
  * 100-query batch — full-train vs sampled-train, side by side.
  * (PqSpec pins the same property at fixture scale within 0.10; this
  * mode measures it at /tmp/sf10's 200k-vector geometry.)
  *
  * `--recall-ivf` (r17 verdict task 3) measures the same pair on the
  * COMPOSED q86/q140-shaped probe — own-cell restriction + ADC
  * (Similarity.ivfPqTopKFrom; flat mode is Similarity.pqTopKFrom, both
  * the one ADC scorer under a different probe set) — against the same
  * unrestricted exact top-10 truth, so the ABSOLUTE quality of the path
  * the 100 TB plan actually serves is on record next to the flat-ADC
  * point (whose m=4/k=16 recall floor is geometry, not sampling).
  * `--nprobe N` switches the probe set to each query's N nearest cells
  * (Similarity.ivfPqTopKFromMultiProbe over exact label centroids, the
  * q142 shape) — the knob that recovers recall toward the flat ceiling.
  *
  * `--m` / `--k` / `--iters` / `--queries` set the recall geometry
  * (r18 verdict task 4): the catalog default m=4/k=16 floors recall@10
  * at shot-noise level (10–20 hits/1000 at sf10) where sampling and
  * nprobe deltas drown; a FAISS-ish m=8/k=256 geometry with a larger
  * query set lifts the absolute numbers out of the noise so the dials
  * read quantitatively. subLen is derived as 64/m (the fixture dim).
  * Usage: runMain graft.tools.TrainBench [sfDir] [cap] [repl]
  *          [--recall | --recall-ivf [--nprobe N]]
  *          [--m N] [--k N] [--iters N] [--queries N]
  */
object TrainBench {
  /** `--name value` options, validated: a flag with a missing or
    * non-integer value fails with a usage message instead of silently
    * parsing to the default or throwing a bare NumberFormatException
    * (ADVICE r18: `--nprobe` as the LAST arg used to yield 0). */
  private val ValueFlags =
    Seq("--nprobe", "--m", "--k", "--iters", "--queries")
  private def intOpt(args: Array[String], name: String, dflt: Int): Int = {
    val i = args.indexOf(name)
    if (i < 0) dflt
    else {
      require(i + 1 < args.length,
        s"usage: $name <int> — missing value for $name")
      val v = args(i + 1)
      require(v.forall(_.isDigit) && v.nonEmpty,
        s"usage: $name <int> — got '$v'")
      v.toInt
    }
  }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val nprobe = intOpt(args, "--nprobe", 0)
    val m = intOpt(args, "--m", 4)
    require(m > 0 && 64 % m == 0, s"--m must divide the 64-dim fixture, got $m")
    val subLen = 64 / m
    val numCodes = intOpt(args, "--k", 16)
    val trainIters = intOpt(args, "--iters", 2)
    val numQueries = intOpt(args, "--queries", 100)
    // positional args = non-flags minus the values consumed by --opts
    val valIdx = ValueFlags.map(f => args.indexOf(f)).filter(_ >= 0)
      .map(_ + 1).toSet
    val pos = args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--") && !valIdx(i) => a
    }
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val cap = pos.lift(1).map(_.toLong).getOrElse(10000L)
    val repl = pos.lift(2).map(_.toInt).getOrElse(1)
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")
    val e0 = graft.Tables.load(spark, sfDir, "embeddings")
    val maxId = e0.agg(max(col("vec_id"))).head().getLong(0)
    require((repl - 1).toLong * 2000003L + maxId < (1L << 31),
      s"repl=$repl would push replica ids past the 31-bit hash domain")
    val e = (0 until repl).map(i =>
        e0.select((col("vec_id") + lit(i.toLong * 2000003L)).as("vec_id"),
                  col("embedding"), col("label")))
      .reduce(_ union _)
    val units = Similarity
      .unitVectors(e, Seq("vec_id" -> "id"), "embedding", "unit")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = units.count()
    // the buildPq predicate, restated (AnnIndex keeps sampleHash private;
    // PqSpec pins that this restatement IS the training sample):
    // p = (id mod 2^31) · 2654435761, hash = xor(p, p >> 31) mod 2^20
    val keep = (cap * AnnIndex.SampleDenom + n - 1L) / n
    val prod = pmod(col("id"), lit(2147483648L)) * lit(2654435761L)
    val sample = units.filter(
      pmod(prod.bitwiseXOR(shiftright(prod, 31)),
           lit(AnnIndex.SampleDenom)) < lit(keep))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sn = sample.count()
    println(s"[trainbench] corpus=$n sample=$sn (cap=$cap)")
    def time(df: DataFrame, iters: Int, k: Int): Double = {
      val t0 = System.nanoTime()
      Similarity.pqTrain(df, 4, 16, k, iters)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (flags.contains("--recall") || flags.contains("--recall-ivf")) {
      val composed = flags.contains("--recall-ivf")
      println(s"[trainbench] recall geometry m=$m subLen=$subLen " +
        s"k=$numCodes iters=$trainIters queries=$numQueries")
      val queries = e.orderBy("vec_id").limit(numQueries).localCheckpoint()
      val truth = Similarity.bruteForceTopK(e, queries, k = 10)
        .select(col("query_id"), col("cand_id"))
        .localCheckpoint()
      val truthN = truth.count()
      // label-cell exact centroids for the multi-probe dial —
      // training-set-independent, computed once
      lazy val cents = Similarity.exactCentroids(
        Similarity.unitVectors(e, Seq("vec_id" -> "id", "label" -> "cell")))
        .localCheckpoint()
      def recall(train: DataFrame, tag: String): Unit = {
        val books = Similarity.pqTrain(train, m, subLen, numCodes, trainIters)
          .localCheckpoint()
        val codes0 = Similarity.pqEncode(units, books, m, subLen)
        def withCells = codes0
          .join(e.select(col("vec_id").as("id"), col("label").as("cell")), "id")
          .localCheckpoint()
        val ann = (if (composed && nprobe > 0)
          Similarity.ivfPqTopKFromMultiProbe(books, withCells, cents,
            queries, k = 10, nprobe = nprobe, m = m, subLen = subLen)
        else if (composed)
          Similarity.ivfPqTopKFrom(books, withCells, queries, k = 10,
            m = m, subLen = subLen)
        else
          Similarity.pqTopKFrom(books, codes0.localCheckpoint(),
            queries, k = 10, m = m, subLen = subLen))
          .select(col("query_id"), col("cand_id"))
        val hits = ann.join(truth, Seq("query_id", "cand_id"), "left_semi").count()
        val mode = if (composed && nprobe > 0) s"ivf(np=$nprobe)"
                   else if (composed) "ivf" else "flat"
        println(f"[trainbench] recall@10 $mode%-10s $tag%-7s $hits/$truthN " +
          f"(${hits.toDouble / truthN}%.3f)")
      }
      recall(units, "full")
      recall(sample, "sampled")
    } else {
      // one throwaway round on the sample so the sweep's first cell
      // doesn't absorb codegen/JIT warm-up
      time(sample, 1, 16)
      for (iters <- Seq(2, 8); k <- Seq(16, 64)) {
        val tf = time(units, iters, k)
        val ts = time(sample, iters, k)
        println(f"[trainbench] iters=$iters k=$k full=$tf%.1f s " +
          f"sampled=$ts%.1f s (${tf / ts}%.1fx)")
      }
    }
    spark.stop()
  }
}
