package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CvePipeline, DailyLoop, GraftSession, Main}
import graft.operators.{AnnIndex, Dedup, PartitionedSnapshot}
import graft.streaming.DocsStream

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file>`.
  *
  * Each workload deploys graft on one `DailyLoop` store root and drives it
  * through a closed loop, one client: a tick (`DailyLoop.runTick`), then the
  * consumer queries that follow it. Both workloads have the same three
  * operation kinds, so every end-to-end metric exists on both:
  *
  *  - tick: `DailyLoop.runTick`, call to return (marker committed);
  *  - query: a single-item consumer query — one CVE looked up in the
  *    prioritized snapshot (cve_daily), or a single-query
  *    `AnnIndex.pqTopK` probe (corpus_lifecycle);
  *  - batch_query: the bulk consumer query — the urgent list, priority ≤ 2
  *    with the nvd/kev/epss columns (cve_daily), or a 64-query pqTopK batch
  *    (corpus_lifecycle).
  *
  * Workloads:
  *  - cve_daily: ticks land CVE feeds — an NVD modified-window delta every
  *    tick, plus the full EPSS/KEV/Exploit-DB files every 4th — and no
  *    documents or vectors.
  *  - corpus_lifecycle: ticks land document and labelled-vector deltas,
  *    remove some earlier documents and vectors, and land no CVE feed;
  *    every tick compacts the PQ and posting chains; the band index chain
  *    only grows, so every tick does the same work.
  *
  * Operations run in whole cycles (`Shape.cycleTicks` ticks) until the
  * measuring time is spent, so every run holds the same mix of light and
  * heavy ticks. Input generation is timed apart from set-up. */
object BenchMain {
  val K = 10 // top-k of every probe
  val BatchQueries = 64
  val Workloads = Seq("cve_daily", "corpus_lifecycle")
  /** Renders the result and span files (Scala maps and sequences). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
                        trace: Boolean = false, work: Path = Paths.get("work"),
                        out: Path = Paths.get("result.json"))

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = Paths.get(v)))
    case "--out" :: v :: t => parse(t, a.copy(out = Paths.get(v)))
    case Nil => a
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(argv: Array[String]): Unit = argv.toList match {
    case "--gen-cve" :: seed :: ids :: ticks :: dir :: Nil =>
      // generator-only mode: the determinism test compares two such trees
      val g = new CveFeedGen(seed.toLong, ids.toInt)
      (0 until ticks.toInt).foreach(t => g.writeTick(t, Paths.get(dir).resolve(f"tick-$t%04d")))
      println(json.writeValueAsString(Map(
        "histogram" -> g.expectedHistogram.toSeq.sorted.map(_._2), "ids" -> g.numIds)))
    case _ =>
      val a = parse(argv.toList)
      require(Workloads.contains(a.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
      val result = new Run(a).execute()
      Files.createDirectories(a.out.toAbsolutePath.getParent)
      Files.write(a.out, json.writeValueAsString(result).getBytes(UTF_8))
  }
}

/** Sizes and cadences of one workload. */
final case class Shape(cycleTicks: Int, cveIds: Int = 0, docs: Int = 0,
                       vecs: Int = 0, dayZeroDocs: Int = 0, dayZeroVecs: Int = 0,
                       tickDocs: Int = 0, tickVecs: Int = 0, removeDocs: Int = 0,
                       removeVecs: Int = 0, annMaxChain: Int = Int.MaxValue) {
  def corpus: Boolean = docs > 0
}

object Shape {
  def of(workload: String): Shape = workload match {
    // 1/25 of the real corpus's ~250k CVEs; a cycle holds one full-feed
    // tick, then 3 delta ticks
    case "cve_daily" =>
      Shape(cycleTicks = CveFeedGen.FullEvery, cveIds = 10000)
    // 40% of the sf0.1 corpus (2000 documents, 800 vectors; a tick costs
    // about the same at the full 5000/2000): day zero lands 80%, a tick 2%
    // and removes 0.4%; a cycle is two such ticks, so the tick median has
    // two samples; after day zero the PQ and posting chains hold one
    // version, so annMaxChain = 1 compacts both on every tick; the band
    // index is never compacted (runTick's maxChain is left unbounded),
    // which keeps every tick's work the same
    case "corpus_lifecycle" => Shape(cycleTicks = 2, docs = 2000,
      vecs = 800, dayZeroDocs = 1600, dayZeroVecs = 640, tickDocs = 40, tickVecs = 16,
      removeDocs = 8, removeVecs = 3, annMaxChain = 1)
  }
}

final class Run(a: BenchMain.Args) {
  import BenchMain._

  private val shape = Shape.of(a.workload)
  private val nproc = Runtime.getRuntime.availableProcessors
  private val work = a.work.toAbsolutePath
  private val genDir = work.resolve("gen")
  private var genNs = 0L
  private def spark = SparkSession.active
  private def gen[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally genNs += System.nanoTime() - t0
  }
  private def stamp(tick: Int) = new Timestamp(CveFeedGen.stampMillis(tick))

  private val cve = new CveFeedGen(a.seed, shape.cveIds)
  private var corpus: CorpusGen = _
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private def fail(msg: String): Unit = failures += msg
  private val setupSpans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private def setupSpan[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally setupSpans += Span(-1L - setupSpans.size, name, t0, System.nanoTime(), 0L, 0L)
  }

  def execute(): Map[String, Any] =
    try body() finally {
      SparkSession.getActiveSession.foreach(_.stop())
      deleteTree(work)
    }

  private def body(): Map[String, Any] = {
    // --- set-up: session build + the program's day-zero tick --------------
    if (a.trace) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val s0 = System.nanoTime()
    setupSpan("GraftSession.build") {
      GraftSession.build(nproc.toString).sparkContext.setLogLevel("WARN")
    }
    gen(generateSetupInputs())
    val root = DailyLoop.Paths(work.resolve("store").toString)
    setupSpan("DailyLoop.runTick")(runTick(root, 0))
    val setupS = (System.nanoTime() - s0 - genNs) / 1e9

    // --- closed loop ------------------------------------------------------
    // A traced run issues every query twice, untraced and traced, in an
    // order that alternates by tick; the pairs state the tracing overhead.
    val tr = new Tracer(spark, enabled = a.trace)
    val gc0 = Layers.gcSeconds()
    val sources = scala.collection.mutable.ArrayBuffer.empty[Layers.SourceStats]
    var tick = 1
    var queryWallNs = 0L
    val t0 = System.nanoTime()
    var cycles = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (cycles == 0 || (elapsed < a.seconds && inputsLeft())) {
      (0 until shape.cycleTicks).foreach { _ =>
        val t = tick
        gen(landTick(t))
        if (a.trace && shape.cveIds > 0) sources += Layers.sourceStats(spark, cveDir(t))
        tr.op("tick")(tr.span("DailyLoop.runTick")(runTick(root, t)))
          .left.foreach(e => fail(s"tick $t: $e"))
        tick += 1
        val q0 = System.nanoTime()
        // one query of each kind after each tick: a run's time goes to
        // ticks, whose median needs the samples more
        if (shape.cveIds > 0) { lookupOp(tr, root, t); urgentOp(tr, root, t) }
        else probeOps(tr, root, t)
        queryWallNs += System.nanoTime() - q0
      }
      cycles += 1
    }
    val loopS = elapsed

    // --- output checks ---------------------------------------------------
    val c0 = System.nanoTime()
    tr.drain()
    if (shape.cveIds > 0) checkSnapshot(root)
    if (shape.corpus) { checkPairs(root, lastBatch = tick); checkPostings(root) }
    val checkS = (System.nanoTime() - c0) / 1e9

    val ops = tr.ops.asScala.toSeq
    val attempted = ops.size
    // a failed output check fails every op of the run
    val failed = if (failures.exists(_.startsWith("check:"))) attempted else ops.count(!_.ok)
    def secs(kind: String) = ops.filter(o => o.kind == kind && o.ok).map(_.seconds).sorted
    val metrics: Map[String, (Double, String)] = if (!a.trace) Map(
      "setup_s" -> (setupS, "s"),
      "tick_s_p50" -> (Stats.median(secs("tick")), "s"),
      "tick_s_mean" -> (Stats.mean(secs("tick")), "s"),
      "query_s_p50" -> (Stats.median(secs("query")), "s"),
      "batch_query_s_p50" -> (Stats.median(secs("batch_query")), "s"),
      "queries_per_s" -> (ops.count(o => o.ok && o.kind != "tick") / (queryWallNs / 1e9), "1/s"),
      "disk_mb" -> (Layers.treeBytes(Paths.get(root.root)) / 1048576.0, "MiB"),
      "heap_live_mb" -> (Layers.liveHeapMb(), "MiB"),
      "ok_frac" -> (1.0 - failed.toDouble / math.max(attempted, 1), "ratio"))
    else {
      val recall = Option(corpus).map(c => Layers.recallAtK(spark, root, c.vecFrame(c.liveVecs),
        queryFrame(c.queries.take(16)), K))
      new Layers(spark, tr, root, sources.toSeq, gc0).metrics(recall) +
        ("gen.s" -> (genNs / 1e9, "s"))
    }
    if (a.trace) writeSpans(tr)
    tr.close()
    Map(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> Map(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "nproc" -> nproc, "session_master" -> s"local[$nproc]", "clients" -> 1,
        "cve_ids_initial" -> shape.cveIds, "cve_ids_final" -> cve.numIds,
        "corpus_docs" -> shape.docs, "corpus_vecs" -> shape.vecs, "gen_s" -> genNs / 1e9,
        "loop_s" -> loopS, "check_s" -> checkS, "cycles" -> cycles,
        // a run holds too few samples for a percentile with 10 above it,
        // so the tails stay out of the metrics
        "tail_s" -> Seq("tick", "query", "batch_query").map(k => k -> Map(
          "pct" -> Stats.tail(secs(k))._1, "value" -> Stats.tail(secs(k))._2)).toMap,
        "samples" -> Seq("tick", "query", "batch_query").map(k => k -> secs(k).size).toMap,
        "tick_s" -> ops.filter(o => o.kind == "tick" && o.ok).map(_.seconds),
        "failures" -> failures.take(20).toSeq))
  }

  // --- inputs -------------------------------------------------------------

  private def cveDir(tick: Int) = genDir.resolve(f"cve/tick-$tick%04d")
  private def corpusDir(tick: Int) = genDir.resolve(f"corpus/tick-$tick%04d")

  private def generateSetupInputs(): Unit = {
    if (shape.cveIds > 0) cve.writeTick(0, cveDir(0))
    if (shape.corpus) {
      corpus = new CorpusGen(() => spark, a.seed, genDir.resolve("corpus"), shape.docs, shape.vecs)
      corpus.writeTick(0, shape.dayZeroDocs, shape.dayZeroVecs)
    }
  }

  private def inputsLeft(): Boolean = !shape.corpus ||
    (corpus.docsLeft >= shape.cycleTicks * shape.tickDocs &&
     corpus.vecsLeft >= shape.cycleTicks * shape.tickVecs)

  private def landTick(tick: Int): Unit = {
    if (shape.cveIds > 0) cve.writeTick(tick, cveDir(tick))
    if (shape.corpus)
      corpus.writeTick(tick, shape.tickDocs, shape.tickVecs, shape.removeDocs, shape.removeVecs)
  }

  /** Tick `tick` over its landing directories, read through graft.Main's
    * landing readers. */
  private def runTick(p: DailyLoop.Paths, tick: Int): Unit = {
    val land = if (shape.cveIds > 0) Main.landingFrom(cveDir(tick).toString)
               else CvePipeline.Landing()
    val d = (if (shape.corpus) corpusDir(tick) else genDir.resolve("no-corpus")).toString
    DailyLoop.runTick(spark, land, Main.docsDeltaFrom(spark, d), p, stamp(tick),
      embDelta = Main.embDeltaFrom(spark, d),
      annMaxChain = shape.annMaxChain,
      docRemovals = Main.removalsFrom(spark, d, "removals.parquet", "doc_id"),
      vecRemovals = Main.removalsFrom(spark, d, "vec_removals.parquet", "vec_id"))
  }

  // --- operations ---------------------------------------------------------

  private val pickRng = new java.util.SplittableRandom(a.seed ^ 0x9B0BEL)

  /** One consumer query; in a traced run, once untraced and once traced,
    * the untraced first after odd ticks. */
  private def query[T](tr: Tracer, kind: String, tick: Int)(f: => T): Unit =
    (if (!a.trace) Seq(true) else if (tick % 2 == 1) Seq(false, true) else Seq(true, false))
      .foreach(on => tr.op(kind, on)(f).left.foreach(e => fail(s"$kind: $e")))

  /** One CVE, its priority checked against the generator's. */
  private def lookupOp(tr: Tracer, p: DailyLoop.Paths, tick: Int): Unit = {
    val i = pickRng.nextInt(cve.numIds)
    val id = CveFeedGen.idOf(i)
    val want = cve.priorityOf(i)
    query(tr, "query", tick) {
      val rows = tr.span("PartitionedSnapshot.read") {
        PartitionedSnapshot.read(spark, p.snapshot).filter(col("id") === id)
          .select("id", "nvd", "kev", "epss", "priority").collect()
      }
      if (rows.length != 1 || rows(0).getInt(4) != want) throw new IllegalStateException(
        s"lookup of $id returned priorities ${rows.map(_.getInt(4)).mkString(",")}, " +
          s"generator expects $want")
    }
  }

  /** The urgent list, its size checked against the generator's. */
  private def urgentOp(tr: Tracer, p: DailyLoop.Paths, tick: Int): Unit = {
    val want = cve.expectedUrgent
    query(tr, "batch_query", tick) {
      val rows = tr.span("PartitionedSnapshot.read") {
        PartitionedSnapshot.read(spark, p.snapshot)
          .filter(col("priority") <= 2).select("id", "nvd", "kev", "epss").collect()
      }
      if (rows.length != want) throw new IllegalStateException(
        s"urgent list holds ${rows.length} rows, generator expects $want")
    }
  }

  /** A single-query pqTopK probe, then a 64-query pqTopK batch that
    * repeats the single query: the batch must rank it exactly as the
    * single probe did. */
  private def probeOps(tr: Tracer, p: DailyLoop.Paths, tick: Int): Unit = {
    val qs = corpus.queries
    val batch = Seq.fill(BatchQueries)(qs(pickRng.nextInt(qs.size))).distinctBy(_._1)
    val single = batch.head
    var singleAnswer = Option.empty[Seq[Long]]
    query(tr, "query", tick) {
      singleAnswer = Some(ranked(tr.span("AnnIndex.pqTopK") {
        AnnIndex.pqTopK(spark, p.ann, queryFrame(Seq(single)), K)
          .select("query_id", "cand_id", "rank", "approx_sim").collect()
      }, Seq(single._1))(single._1))
    }
    query(tr, "batch_query", tick) {
      val got = ranked(tr.span("AnnIndex.pqTopK") {
        AnnIndex.pqTopK(spark, p.ann, queryFrame(batch), K)
          .select("query_id", "cand_id", "rank", "approx_sim").collect()
      }, batch.map(_._1))
      if (singleAnswer.exists(_ != got(single._1)))
        throw new IllegalStateException(s"query ${single._1} ranks differently alone and in a batch")
    }
  }

  private def queryFrame(qs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(qs.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType)))))

  /** Checks (query_id, cand_id, rank, sim) rows — ranks 1..k for every
    * query, similarity non-increasing with rank — and returns each query's
    * ranked candidate ids. */
  private def ranked(rows: Array[Row], qids: Seq[Long]): Map[Long, Seq[Long]] = {
    val byQ = rows.groupBy(_.getLong(0))
    qids.map { qid =>
      val rs = byQ.getOrElse(qid, Array.empty[Row]).sortBy(_.getLong(2)).toSeq
      if (rs.map(_.getLong(2)) != (1L to K.toLong))
        throw new IllegalStateException(s"query $qid: ranks ${rs.map(_.getLong(2)).mkString(",")}, want 1..$K")
      val sims = rs.map(r => r.get(3) match {
        case d: java.math.BigDecimal => d.doubleValue
        case x => x.toString.toDouble
      })
      if (sims.sliding(2).exists(w => w(1) > w(0)))
        throw new IllegalStateException(s"query $qid: similarity increases with rank")
      qid -> rs.map(_.getLong(1))
    }.toMap
  }

  // --- checks -------------------------------------------------------------

  /** Row count = distinct ids the generator landed; priority histogram =
    * the generator's, from the ladder thresholds. */
  private def checkSnapshot(p: DailyLoop.Paths): Unit = {
    val snap = PartitionedSnapshot.read(spark, p.snapshot)
    val rows = snap.count()
    if (rows != cve.numIds) fail(s"check: snapshot holds $rows rows, generator landed ${cve.numIds} ids")
    val hist = snap.groupBy("priority").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (hist != cve.expectedHistogram)
      fail(s"check: priority histogram $hist, generator expects ${cve.expectedHistogram}")
  }

  /** q128's contract: the live pair view equals the batch pair set over
    * the surviving corpus. */
  private def checkPairs(p: DailyLoop.Paths, lastBatch: Int): Unit = {
    val live = DocsStream.livePairs(spark, p.pairs, p.store, lastBatch.toLong)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Dedup.jaccardPairs(Dedup.shingleSets(corpus.docFrame(corpus.liveDocs)), 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (live != truth) fail(s"check: live pairs ${live.size} differ from the batch pair set " +
      s"${truth.size} (${(live diff truth).take(3)} / ${(truth diff live).take(3)})")
  }

  /** The IVF posting store, which the loop's probes do not read: a
    * postingsTopK probe of every query ranks 1..k with non-increasing
    * similarity. */
  private def checkPostings(p: DailyLoop.Paths): Unit =
    try ranked(AnnIndex.postingsTopK(spark, p.annPost, queryFrame(corpus.queries), K, nprobe = 2)
        .select("query_id", "cand_id", "rank", "sim").collect(), corpus.queries.map(_._1))
    catch { case e: IllegalStateException => fail(s"check: postingsTopK: ${e.getMessage}") }

  /** Spans (name, start, end, parent, op id) as JSON lines beside the
    * result; set-up spans carry op 0. */
  private def writeSpans(t: Tracer): Unit = {
    val f = a.out.resolveSibling(a.out.getFileName.toString.replace(".json", "") + ".spans.jsonl")
    val lines = (setupSpans.toSeq ++ t.spans.asScala).sortBy(_.startNs).map { s =>
      json.writeValueAsString(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op))
    }
    Files.write(f, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of p99.9/p99/p95/p90/p75/p50 with at least 10 samples
    * above it (nearest rank); with fewer than 20 samples, the maximum. */
  def tail(sorted: Seq[Double]): (String, Double) =
    if (sorted.isEmpty) ("none", 0.0)
    else Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => sorted.size * (1 - p / 100) >= 10) match {
      case Some(p) => (s"p$p", sorted(math.max(0, math.ceil(p / 100 * sorted.size).toInt - 1)))
      case None => ("max", sorted.last)
    }
}
