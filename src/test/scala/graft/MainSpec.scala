package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths => JPaths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean

/** The CLI/ops surface: argparse parity (main.py:41-47), the
  * initial-delay arithmetic (main.py:107-117), the logger's level gate
  * and line shape (logger_handler.py), and a real `--once`-mode tick
  * driven through Main.run against a landed directory. */
class MainSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("parseArgs: flags, defaults, and argparse-style errors") {
    assert(Main.parseArgs(Nil) == Right(Main.Args()))
    assert(Main.parseArgs(Seq("-d")).exists(_.debug))
    assert(Main.parseArgs(Seq("--debug")).exists(_.debug))
    assert(Main.parseArgs(Seq("-c", "x.ini")).exists(_.config == "x.ini"))
    assert(Main.parseArgs(Seq("--config", "y.ini")).exists(_.config == "y.ini"))
    assert(Main.parseArgs(Seq("--root", "/tmp/r", "--once"))
      .exists(a => a.root == "/tmp/r" && a.once))
    assert(Main.parseArgs(Seq("--once", "--fetch"))
      .exists(a => a.once && a.fetch))
    assert(Main.parseArgs(Seq("-h")).exists(_.help))
    assert(Main.parseArgs(Seq("--bogus")).isLeft)
    assert(Main.parseArgs(Seq("-c")).isLeft)       // missing value
    assert(Main.parseArgs(Seq("-c", "--once")).isLeft) // flag where value expected
  }

  test("initialDelayMs: reference calculate_initial_delay semantics") {
    val now = ts("2025-04-02 12:00:00")
    // no last run → immediately
    assert(Main.initialDelayMs(None, 4.0, now) == 0L)
    // elapsed > interval → immediately
    assert(Main.initialDelayMs(Some(ts("2025-04-02 00:00:00")), 4.0, now) == 0L)
    // inside the interval → the remainder
    assert(Main.initialDelayMs(Some(ts("2025-04-02 11:00:00")), 4.0, now)
      == 3L * 3600 * 1000)
    assert(Main.formatDelay(3L * 3600 * 1000 + 61000) == "3h 1min 1s")
  }

  test("Log: level gate, line shape, and invalid levels fail loudly") {
    val buf = new ByteArrayOutputStream()
    val prevOut = Log.out; val prevLvl = Log.currentMaxLevel
    val prevColor = Log.colored; val prevClock = Log.clock
    try {
      Log.out = new PrintStream(buf, true, "UTF-8")
      Log.colored = false
      Log.clock = () => 1743552000000L // 2025-04-02 00:00:00 UTC
      Log.setMaxLevel("INFO")
      Log.debug("hidden")            // below the gate
      Log.info("shown", "mainspec")
      Log.success("done", "mainspec")
      Log.setMaxLevel("error")       // case-insensitive set
      Log.warning("also hidden")
      val lines = buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
      assert(lines == Seq(
        "2025-04-02 00:00:00 | INFO | mainspec | shown",
        "2025-04-02 00:00:00 | SUCCESS | mainspec | done"))
      intercept[IllegalArgumentException](Log.setMaxLevel("VERBOSE"))
    } finally {
      Log.out = prevOut; Log.setMaxLevel(prevLvl)
      Log.colored = prevColor; Log.clock = prevClock
    }
  }

  test("landingFrom probes the upstreams' canonical filenames; missing files skip") {
    val dir = SparkSpec.tempDir("graft_land_").toString
    // land two sources under their upstream names
    Files.copy(JPaths.get(res("epss_scores.csv")),
      JPaths.get(dir, "epss_scores.csv"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(JPaths.get(res("known_exploited_vulnerabilities.json")),
      JPaths.get(dir, "known_exploited_vulnerabilities.json"),
      StandardCopyOption.REPLACE_EXISTING)
    val l = Main.landingFrom(dir)
    assert(l.epss.isDefined && l.kev.isDefined)
    assert(l.nvd.isEmpty && l.exploitDb.isEmpty && l.debian.isEmpty)
    assert(!l.isEmpty)
    // an empty dir lands nothing
    assert(Main.landingFrom(SparkSpec.tempDir("graft_none_").toString).isEmpty)
  }

  test("stampsFrom: _STAMPS round-trips; malformed lines drop without failing the tick") {
    val dir = SparkSpec.tempDir("graft_stamps_").toString
    assert(Main.stampsFrom(dir).isEmpty) // absent sidecar = no stamps
    Files.write(JPaths.get(dir, Main.StampsFile),
      ("epss=1755176100000\n" + // well-formed
        "kev=not-a-number\n" +  // malformed value: dropped
        "=1755176100000\n" +    // empty source: dropped
        "exploitdb\n" +         // no separator: dropped
        "cisa=1755176200000\n").getBytes("UTF-8"))
    val stamps = Main.stampsFrom(dir)
    assert(stamps.keySet == Set("epss", "cisa"))
    assert(stamps("epss") == new Timestamp(1755176100000L))
    assert(stamps("cisa") == new Timestamp(1755176200000L))
    // a landing carrying stamps is still "empty" when no FILE landed —
    // stamps are commit metadata, not landed data
    assert(CvePipeline.Landing(stamps = stamps).isEmpty)
  }

  test("run --once: a landed tick merges, dedups, and commits its marker") {
    import org.apache.spark.sql.functions.col
    val root = SparkSpec.tempDir("graft_main_").toString
    val land1 = JPaths.get(root, "landing", "1")
    Files.createDirectories(land1)
    Files.copy(JPaths.get(res("nvd_page.json")),
      land1.resolve("nvd_page.json"))
    Files.copy(JPaths.get(res("epss_scores.csv")),
      land1.resolve("epss_scores.csv"))
    Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").filter(col("doc_id") < 200)
      .write.parquet(land1.resolve("documents.parquet").toString)

    val conf = Config.parse("[cvemate]\nscheduler = 24\n[dedup]\nthreshold = 0.8\n")
    val ticks = Main.run(spark, conf, root, once = true,
      stop = new AtomicBoolean(false), clock = () => ts("2025-04-01 00:00:00"))
    assert(ticks == 1)
    val p = DailyLoop.Paths(root)
    assert(DailyLoop.committedTick(spark, p) ==
      ((1L, Some(ts("2025-04-01 00:00:00")))))
    val snap = operators.PartitionedSnapshot.read(spark, p.snapshot)
    assert(snap.count() > 0 && snap.columns.contains("epss"))
    // scheduler mode with the stop flag pre-set: exits without ticking
    val ticks2 = Main.run(spark, conf, root, once = false,
      stop = new AtomicBoolean(true), clock = () => ts("2025-04-01 01:00:00"))
    assert(ticks2 == 0)
    // --once is a writer too: while another holder's lease is fresh it
    // must refuse to run (a one-shot tick interleaving with a running
    // loop would burn version numbers and race consolidation swaps) —
    // and the lease released on its way out, so the refusal is not
    // because the earlier --once leaked its own
    DailyLoop.acquireLease(spark, p, "other-writer")
    val err = intercept[IllegalStateException] {
      Main.run(spark, conf, root, once = true,
        stop = new AtomicBoolean(false), clock = () => ts("2025-04-02 00:00:00"))
    }
    assert(err.getMessage.contains("leased by 'other-writer'"))
    DailyLoop.releaseLease(spark, p)
  }
}
