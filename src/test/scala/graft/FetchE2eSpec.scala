package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.operators.Watermarks
import graft.sources.{Fetch, Landing}
import graft.sources.Fetch.{Policy, TransientFetchException}

/** End-to-end §3.1 init + §3.2 incremental tick through the DISTRIBUTED
  * fetch path: recorded-fixture paginated transport → executor-side page
  * landing → declared-schema scan → K1 merge → prioritize → watermark
  * stamp (reference: main.py:64-98 init, 123-147 update loop;
  * datasources/nvd_handler.py:90-120 pagination with lastModStartDate
  * windowing). With this green, the only untested part of S1/S2 is the
  * HTTP socket itself — everything from "page body exists" onward runs
  * through the same code a production deployment would.
  */
class FetchE2eSpec extends SparkSpec {
  import FetchE2eSpec._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("S1 e2e: paginated init fetch + watermark-windowed incremental tick") {
    val work = SparkSpec.tempDir("fetch_e2e").toString
    val p = DailyLoop.Paths(work)
    val status = p.status
    val snap = p.snapshot
    val noDocs = Main.docsDeltaFrom(spark, s"$work/no_docs")
    val policy = Policy(resultsPerPage = 2, retryDelayMs = 1L)

    // ---- §3.1 init: no watermark → full pull ---------------------------
    assert(Watermarks.lastUpdated(spark, status, CveJob.JobSource).isEmpty)
    attempts.clear()

    // The reference learns totalResults from the first response and
    // ceil-divs into pages (nvd_handler copy.py:156-158) — probe page 0
    // driver-side through the same bounded-retry path the executors use.
    val total1 = parseTotal(Fetch.fetchWithRetry(initTransport, 0L, policy,
      sleeper = _ => ()).body)
    assert(total1 == 5L)
    val landed1 = Landing.landPages(
      Fetch.fetchPages(spark, total1, policy, numPartitions = 2, initTransport),
      s"$work/land1")
    assert(landed1 == 3L) // ceil(5/2)
    // the transient 503 on page 1 was retried INSIDE the fetch job
    assert(attempts.get(1L).get() == 2)
    assert(attempts.get(0L).get() >= 2) // probe + distributed fetch

    val t0 = ts("2025-04-01 00:00:00")
    DailyLoop.runTick(spark, CvePipeline.Landing(nvd = Some(s"$work/land1")),
      noDocs, p, t0)
    assert(Watermarks.lastUpdated(spark, status, CveJob.JobSource).contains(t0))

    val s1 = spark.read.parquet(snap)
    assert(s1.count() == 5)
    assert(s1.columns.contains("priority"))
    assert(s1.filter(col("id") === "CVE-2025-0001")
      .select("nvd.vulnStatus").head().getString(0) == "Received")

    // ---- §3.2 incremental: fetch window driven by the watermark --------
    // The fixture "server" applies lastModStartDate exactly as the real
    // API does: only records modified after `since` come back.
    val since = Watermarks.lastUpdated(spark, status, CveJob.JobSource).get
    val transport2 = windowTransport(since)
    val total2 = parseTotal(Fetch.fetchWithRetry(transport2, 0L, policy,
      sleeper = _ => ()).body)
    assert(total2 == 2L) // one updated + one new CVE fall in the window
    val landed2 = Landing.landPages(
      Fetch.fetchPages(spark, total2, policy, numPartitions = 2, transport2),
      s"$work/land2")
    assert(landed2 == 1L)

    val t1 = ts("2025-04-01 04:00:00")
    DailyLoop.runTick(spark, CvePipeline.Landing(nvd = Some(s"$work/land2")),
      noDocs, p, t1)
    assert(Watermarks.lastUpdated(spark, status, CveJob.JobSource).contains(t1))

    val s2 = spark.read.parquet(snap)
    assert(s2.count() == 6) // 5 + 1 new, updated row upserted not duplicated
    // matched row: payload refreshed, created_at preserved, updated_at = t1
    val upd = s2.filter(col("id") === "CVE-2025-0001")
      .select(col("nvd.vulnStatus"), col("created_at"), col("updated_at")).head()
    assert(upd.getString(0) == "Analyzed")
    assert(upd.getTimestamp(1) == t0)
    assert(upd.getTimestamp(2) == t1)
    // unmatched row: untouched by the delta, both stamps still t0
    val still = s2.filter(col("id") === "CVE-2025-0002")
      .select(col("created_at"), col("updated_at")).head()
    assert(still.getTimestamp(0) == t0)
    assert(still.getTimestamp(1) == t0)
    // new row: both stamps t1
    val fresh = s2.filter(col("id") === "CVE-2025-0006")
      .select(col("created_at"), col("updated_at")).head()
    assert(fresh.getTimestamp(0) == t1)
    assert(fresh.getTimestamp(1) == t1)
  }

  test("S1 e2e over a REAL socket: loopback HTTP server, 503 retried through the client") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val srvHits = new ConcurrentHashMap[Long, AtomicInteger]()
    server.createContext("/rest/json/cves/2.0", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").filter(_.nonEmpty).map(_.split("=", 2))
          .map(a => a(0) -> a.lift(1).getOrElse("")).toMap
        val page = params("startIndex").toLong / PerPage
        val n = srvHits.computeIfAbsent(page, _ => new AtomicInteger)
          .incrementAndGet()
        if (page == 1L && n == 1) { // first hit on page 1: rate-limit it
          ex.sendResponseHeaders(503, -1); ex.close()
        } else {
          val body = pageBody(initRecs, page).getBytes("UTF-8")
          ex.sendResponseHeaders(200, body.length.toLong)
          ex.getResponseBody.write(body); ex.close()
        }
      }
    })
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val transport = Fetch.httpTransport(p =>
        s"$base/rest/json/cves/2.0?resultsPerPage=$PerPage&startIndex=${p * PerPage}")
      val policy = Policy(resultsPerPage = PerPage, retryDelayMs = 1L)
      val work = SparkSpec.tempDir("fetch_http").toString
      // probe → distributed fetch → landing → merge: the exact
      // recorded-fixture pipeline above, now through a real socket
      val total = parseTotal(
        Fetch.fetchWithRetry(transport, 0L, policy, sleeper = _ => ()).body)
      assert(total == 5L)
      val landed = Landing.landPages(
        Fetch.fetchPages(spark, total, policy, numPartitions = 2, transport),
        s"$work/land")
      assert(landed == 3L)
      // the 503 went over the wire and the client-side retry re-fetched
      assert(srvHits.get(1L).get() == 2)
      CveJob.mergeLanded(spark, CvePipeline.Landing(nvd = Some(s"$work/land")),
        s"$work/snap", ts("2025-04-01 00:00:00"))
      val snap = spark.read.parquet(s"$work/snap")
      assert(snap.count() == 5)
      assert(snap.filter(col("id") === "CVE-2025-0001")
        .select("nvd.vulnStatus").head().getString(0) == "Received")
      // a non-retryable status fails loudly, not as a silent empty page
      val err = intercept[java.io.IOException] {
        Fetch.httpTransport(_ => s"$base/definitely/not/there")(0L)
      }
      assert(err.getMessage.contains("404"), err.getMessage)
    } finally server.stop(0)
  }

  test("--once --fetch: Main lands pages over a real socket, then the tick merges them") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/rest/json/cves/2.0", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").filter(_.nonEmpty).map(_.split("=", 2))
          .map(a => a(0) -> a.lift(1).getOrElse("")).toMap
        val page = params("startIndex").toLong / PerPage
        val body = pageBody(initRecs, page).getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = SparkSpec.tempDir("main_fetch_")
        .resolve("root").toString
      // the reference's in-process fetch+merge (main.py:64-89), one flag:
      // the tick's landing dir starts EMPTY and the fetch step fills it
      val conf = Config.parse(
        s"""[nvd]
           |url: $base/rest/json/cves/2.0
           |results_per_page: $PerPage
           |retry_delay: 0
           |""".stripMargin)
      val ticks = Main.run(spark, conf, root, once = true,
        stop = new java.util.concurrent.atomic.AtomicBoolean(false),
        clock = () => ts("2025-04-01 00:00:00"), fetch = true)
      assert(ticks == 1)
      val snap = spark.read.parquet(s"$root/snapshot")
      assert(snap.count() == 5)
      assert(snap.filter(col("id") === "CVE-2025-0001")
        .select("nvd.vulnStatus").head().getString(0) == "Received")
      assert(DailyLoop.committedTick(spark, DailyLoop.Paths(root))._1 == 1L)
    } finally server.stop(0)
  }

  test("--fetch in LOOP mode: every due tick re-fetches into its own landing dir") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new AtomicInteger
    server.createContext("/rest/json/cves/2.0", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        hits.incrementAndGet()
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").filter(_.nonEmpty).map(_.split("=", 2))
          .map(a => a(0) -> a.lift(1).getOrElse("")).toMap
        val body = pageBody(initRecs,
          params("startIndex").toLong / PerPage).getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = SparkSpec.tempDir("main_fetchloop_")
        .resolve("root").toString
      val conf = Config.parse(
        s"""[nvd]
           |url: $base/rest/json/cves/2.0
           |results_per_page: $PerPage
           |retry_delay: 0
           |[cvemate]
           |scheduler: 24
           |""".stripMargin)
      // two due ticks on an injected clock, then stop: each must fetch
      // ITS OWN landing dir over the wire (a fixed landing would serve
      // day one's pages forever — the staleness the per-seq dir model
      // exists to prevent)
      var calls = 0
      // first entry feeds Main.run's initial-delay probe, the rest the
      // loop's tick clock
      val clocks = Seq(ts("2025-04-01 00:00:00"), ts("2025-04-01 00:00:00"),
        ts("2025-04-02 00:00:00"), ts("2025-04-02 00:00:01"))
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val ticks = Main.run(spark, conf, root, once = false, stop = stop,
        clock = () => {
          val t = clocks(math.min(calls, clocks.length - 1))
          calls += 1
          if (calls >= clocks.length) stop.set(true)
          t
        }, sleepMs = 1L, fetch = true)
      assert(ticks == 2)
      assert(new java.io.File(s"$root/landing/1/nvd_pages").isDirectory)
      assert(new java.io.File(s"$root/landing/2/nvd_pages").isDirectory)
      // each tick paid its own fetch over the socket: 3 pages/tick,
      // with the probe body doubling as page 0 (no duplicate request)
      assert(hits.get() == 6, s"expected two 3-request fetches, saw ${hits.get()}")
      assert(spark.read.parquet(s"$root/snapshot").count() == 5)
    } finally server.stop(0)
  }

  test("--fetch parity: all nine sources land canonically; the marker makes re-runs fetch-free") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new AtomicInteger
    def bytesOf(resource: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(res(resource)))
    // a REAL single-member zip around the CWE XML fixture, member name
    // versioned like the upstream's (cwec_v4.x.xml) so the extract
    // step's rename-to-canonical branch is exercised
    val cweZip = {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      zos.putNextEntry(new java.util.zip.ZipEntry("cwec_v4.12.xml"))
      zos.write(bytesOf("cwec_mini.xml"))
      zos.closeEntry(); zos.close()
      bos.toByteArray
    }
    def serve(path: String, body: () => Array[Byte]): Unit =
      server.createContext(path, new HttpHandler {
        def handle(ex: HttpExchange): Unit = {
          hits.incrementAndGet()
          val b = body()
          ex.sendResponseHeaders(200, b.length.toLong)
          ex.getResponseBody.write(b); ex.close()
        }
      })
    server.createContext("/rest/json/cves/2.0", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        hits.incrementAndGet()
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").filter(_.nonEmpty).map(_.split("=", 2))
          .map(a => a(0) -> a.lift(1).getOrElse("")).toMap
        val body = pageBody(initRecs,
          params("startIndex").toLong / PerPage).getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    serve("/exploitdb/files_exploits.csv", () => bytesOf("files_exploits.csv"))
    serve("/metasploit/modules_metadata_base.json",
      () => bytesOf("modules_metadata_base.json"))
    serve("/cwe/cwec_latest.xml.zip", () => cweZip)
    serve("/epss/epss_scores-current.csv.gz", () => bytesOf("epss_scores.csv.gz"))
    serve("/cisa/known_exploited_vulnerabilities.json",
      () => bytesOf("known_exploited_vulnerabilities.json"))
    serve("/debian/json", () => bytesOf("debian.json"))
    // cve.org day zero: the delta log plus the full-clone archive (a
    // real zip around the fixture cvelistV5 tree)
    val cveorgZip = {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      for (rel <- Seq("cves/2024/0xxx/CVE-2024-0001.json",
                      "cves/2025/0xxx/CVE-2025-0100.json")) {
        zos.putNextEntry(new java.util.zip.ZipEntry(rel))
        zos.write(bytesOf(s"cveorg/$rel")); zos.closeEntry()
      }
      zos.close()
      bos.toByteArray
    }
    @volatile var deltaLogBody: Array[Byte] = bytesOf("deltaLog.json")
    serve("/cveorg/deltaLog.json", () => deltaLogBody)
    serve("/cveorg/main.zip", () => cveorgZip)
    serve("/raw/CVE-2024-0001.json",
      () => bytesOf("cveorg/cves/2024/0xxx/CVE-2024-0001.json"))
    serve("/raw/CVE-2025-0101.json",
      () => bytesOf("cveorg/cves/2025/0xxx/CVE-2025-0100.json"))
    // Red Hat Hydra: the same totalResults pagination envelope as NVD
    // (redhat_handler.py:62-124); one fixture page covers the corpus
    serve("/hydra/cve.json", () => bytesOf("redhat_page.json"))
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = SparkSpec.tempDir("main_fetch6_")
        .resolve("root").toString
      // the reference's full job fetch set (main.py:64-89): NVD paginated
      // plus five single-file sources, each keyed by its config section
      val conf = Config.parse(
        s"""[nvd]
           |url: $base/rest/json/cves/2.0
           |results_per_page: $PerPage
           |retry_delay: 0
           |[exploitdb]
           |url: $base/exploitdb/files_exploits.csv
           |[metasploit]
           |url: $base/metasploit/modules_metadata_base.json
           |[cwe]
           |url: $base/cwe/cwec_latest.xml.zip
           |[epss]
           |url: $base/epss/epss_scores-current.csv.gz
           |[cisa]
           |url: $base/cisa/known_exploited_vulnerabilities.json
           |[debian]
           |url: $base/debian/json
           |[redhat]
           |url: $base/hydra/cve.json
           |results_per_page: 2
           |[cveorg]
           |url: $base/cveorg/main.zip
           |url_updates: $base/cveorg/deltaLog.json
           |""".stripMargin)
      val ticks = Main.run(spark, conf, root, once = true,
        stop = new java.util.concurrent.atomic.AtomicBoolean(false),
        clock = () => ts("2025-04-01 00:00:00"), fetch = true)
      assert(ticks == 1)
      // every canonical filename landed (the names landingFrom probes),
      // the zip's single member extracted to the canonical XML, and the
      // completion marker committed the landing
      val land = s"$root/landing/1"
      assert(new java.io.File(s"$land/nvd_pages").isDirectory)
      assert(new java.io.File(s"$land/redhat_pages").isDirectory)
      assert(new java.io.File(s"$land/cveorg").isDirectory)
      for (n <- Seq("files_exploits.csv", "modules_metadata_base.json",
                    "cwec_latest.xml.zip", "cwec_latest.xml",
                    "epss_scores.csv.gz", "known_exploited_vulnerabilities.json",
                    "debian.json", "cveorg_deltaLog.json",
                    Main.LandedMarker))
        assert(new java.io.File(s"$land/$n").isFile, s"$n must land")
      // the full clone lands BATCHED (extractZipBatched): JSONL
      // envelopes, not a file-per-member tree — the 500k-member real
      // archive must not become 500k driver-side FS creates
      val cloneFiles = new java.io.File(s"$land/cveorg").listFiles()
        .map(_.getName).filter(!_.startsWith(".")).toSeq
      assert(cloneFiles.nonEmpty &&
        cloneFiles.forall(n => n.startsWith("batch-") && n.endsWith(".jsonl")),
        s"day-zero clone must land batched, got $cloneFiles")
      // the merged snapshot carries every enrichment envelope — the
      // dormant trio's included (CWE is a standalone cross-ref table,
      // not a snapshot envelope)
      val snap = spark.read.parquet(s"$root/snapshot")
      for (env <- Seq("nvd", "epss", "exploitdb", "metasploit", "kev",
                      "debian", "cveorg", "redhat")) {
        assert(snap.columns.contains(env), s"missing envelope $env")
        assert(snap.filter(col(env).isNotNull).count() > 0,
          s"envelope $env carries no rows")
      }
      // the day-zero cve.org landing committed its coverage stamp (max
      // fetchTime of the landed delta log)
      assert(Watermarks.sourceLastUpdate(spark, s"$root/status", "cveorg")
        .contains(Timestamp.from(
          java.time.OffsetDateTime.parse("2025-04-03T10:00:00Z").toInstant)))
      // and the landed gzip really was binary-preserved end-to-end: the
      // Hadoop codec read it (epss rows merged) — spot-check one value
      assert(snap.filter(col("epss").isNotNull)
        .select("epss.epss_score").head().getDouble(0) > 0.0)
      // a re-run of the SAME seq's fetch is a no-op (the _LANDED marker:
      // crash re-runs must consume the identical delta, never re-pull
      // live data that may have changed between attempts)
      val before = hits.get()
      Main.fetchLanding(spark, conf, land)
      assert(hits.get() == before, "a landed dir must never re-fetch")

      // ---- incremental cve.org tick: the delta-log fan-out pulls each
      // windowed CVE record through the DISTRIBUTED keyed fetch (the
      // reference's per-CVE ThreadPool loop, cveorg_handler.py:164-183,
      // over a real socket)
      deltaLogBody = (s"""[{"fetchTime":"2025-04-05T10:00:00.000Z",""" +
        s""""numberOfChanges":2,"updated":[{"cveId":"CVE-2024-0001",""" +
        s""""githubLink":"$base/raw/CVE-2024-0001.json",""" +
        s""""dateUpdated":"2025-04-05T09:59:00.000Z"}],""" +
        s""""new":[{"cveId":"CVE-2025-0101",""" +
        s""""githubLink":"$base/raw/CVE-2025-0101.json",""" +
        s""""dateUpdated":"2025-04-05T09:58:00.000Z"}]},""" +
        s"""{"fetchTime":"2025-04-03T10:00:00.000Z","numberOfChanges":0,""" +
        s""""updated":[],"new":[]}]""").getBytes("UTF-8")
      val ticks2 = Main.run(spark, conf, root, once = true,
        stop = new java.util.concurrent.atomic.AtomicBoolean(false),
        clock = () => ts("2025-04-02 00:00:00"), fetch = true)
      assert(ticks2 == 1)
      val land2 = s"$root/landing/2"
      assert(new java.io.File(s"$land2/cveorg/CVE-2024-0001.json").isFile)
      assert(new java.io.File(s"$land2/cveorg/CVE-2025-0101.json").isFile)
      assert(new java.io.File(s"$land2/cveorg").listFiles()
        .map(_.getName).count(n => n.endsWith(".json") && !n.startsWith(".")) == 2,
        "the fan-out lands exactly the windowed delta")
      val snap2 = spark.read.parquet(s"$root/snapshot")
      assert(snap2.filter(col("id") === "CVE-2025-0101")
        .filter(col("cveorg").isNotNull).count() == 1,
        "the fanned-out NEW record must reach the snapshot")
      assert(Watermarks.sourceLastUpdate(spark, s"$root/status", "cveorg")
        .contains(Timestamp.from(
          java.time.OffsetDateTime.parse("2025-04-05T10:00:00Z").toInstant)))
    } finally server.stop(0)
  }

  test("freshness-gated fetch: a fresh upstream skips download AND merge; stamps advance only on real change") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // mutable upstream state — tick 3 advances two of the four
    @volatile var epssDate = "2025-04-03T00:00:00Z"
    @volatile var kevDate = "2025-04-03T14:01:05.179Z"
    @volatile var exploitCommit = "2025-04-03T08:00:00.000Z"
    @volatile var msfCommit = "2025-04-03T09:00:00.000Z"
    val fullGets = new ConcurrentHashMap[String, AtomicInteger]()
    val rangeGets = new ConcurrentHashMap[String, AtomicInteger]()
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("UTF-8")); g.close()
      bos.toByteArray
    }
    def serve(path: String, key: String, body: () => Array[Byte]): Unit =
      server.createContext(path, new HttpHandler {
        def handle(ex: HttpExchange): Unit = {
          val ranged = ex.getRequestHeaders.containsKey("Range")
          (if (ranged) rangeGets else fullGets)
            .computeIfAbsent(key, _ => new AtomicInteger).incrementAndGet()
          val b = body()
          ex.sendResponseHeaders(200, b.length.toLong)
          try { ex.getResponseBody.write(b) }
          catch { case _: java.io.IOException => () } // probe closed early
          ex.close()
        }
      })
    def bytesOf(resource: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(res(resource)))
    serve("/exploitdb/files_exploits.csv", "exploitdb",
      () => bytesOf("files_exploits.csv"))
    serve("/gitlab/commits", "gitlab", () =>
      s"""[{"id":"abc","created_at":"$exploitCommit","title":"update"}]"""
        .getBytes("UTF-8"))
    serve("/metasploit/modules_metadata_base.json", "metasploit",
      () => bytesOf("modules_metadata_base.json"))
    serve("/github/commits", "github", () =>
      (s"""[{"sha":"def","commit":{"author":{"date":"$msfCommit"},""" +
        s""""committer":{"date":"$msfCommit"}}}]""").getBytes("UTF-8"))
    serve("/epss/epss_scores-current.csv.gz", "epss", () => gz(
      s"#model_version:v2023.03.01,score_date:$epssDate\n" +
        "cve,epss,percentile\nCVE-2024-0001,0.97452,0.99923\n"))
    serve("/cisa/known_exploited_vulnerabilities.json", "cisa", () =>
      (s"""{"catalogVersion":"2025.04.03","dateReleased":"$kevDate",""" +
        """"count":1,"vulnerabilities":[{"cveID":"CVE-2024-0001",""" +
        """"vendorProject":"X","product":"Y","vulnerabilityName":"X Y RCE",""" +
        """"dateAdded":"2025-04-01","shortDescription":"RCE",""" +
        """"requiredAction":"Patch","dueDate":"2025-04-22"}]}""").getBytes("UTF-8"))
    server.setExecutor(null)
    server.start()
    def full(k: String) = Option(fullGets.get(k)).map(_.get()).getOrElse(0)
    def ranged(k: String) = Option(rangeGets.get(k)).map(_.get()).getOrElse(0)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = SparkSpec.tempDir("main_fresh_")
        .resolve("root").toString
      val conf = Config.parse(
        s"""[exploitdb]
           |url: $base/exploitdb/files_exploits.csv
           |probe_url: $base/gitlab/commits
           |[metasploit]
           |url: $base/metasploit/modules_metadata_base.json
           |probe_url: $base/github/commits
           |[epss]
           |url: $base/epss/epss_scores-current.csv.gz
           |[cisa]
           |url: $base/cisa/known_exploited_vulnerabilities.json
           |""".stripMargin)
      def tick(day: Int): Unit =
        Main.run(spark, conf, root, once = true,
          stop = new java.util.concurrent.atomic.AtomicBoolean(false),
          clock = () => ts(f"2025-04-1$day%d 00:00:00"), fetch = true)
      val status = s"$root/status"
      def slu(s: String) = Watermarks.sourceLastUpdate(spark, status, s)
      def iso(s: String) = Timestamp.from(
        java.time.OffsetDateTime.parse(s).toInstant)

      // ---- tick 1: nothing stored → every source probes AND fetches
      tick(1)
      assert(full("exploitdb") == 1 && full("metasploit") == 1)
      assert(full("epss") == 1 && full("cisa") == 1)
      assert(full("gitlab") == 1 && full("github") == 1)
      assert(ranged("epss") == 1 && ranged("cisa") == 1,
        "in-body stamps must be probed with a ranged prefix GET")
      val snap1 = spark.read.parquet(s"$root/snapshot")
      for (env <- Seq("epss", "exploitdb", "metasploit", "kev"))
        assert(snap1.filter(col(env).isNotNull).count() > 0, s"envelope $env")
      // the committed stamps are the upstreams' own publication stamps
      assert(slu("exploitdb").contains(iso("2025-04-03T08:00:00Z")))
      assert(slu("metasploit").contains(iso("2025-04-03T09:00:00Z")))
      assert(slu("epss").contains(iso("2025-04-03T00:00:00Z")))
      assert(slu("cisa").map(_.getTime).contains(
        java.time.OffsetDateTime.parse(kevDate).toInstant.toEpochMilli))

      // ---- tick 2: upstream unchanged → probes only, ZERO data GETs,
      // no merge input, but the tick still commits
      tick(2)
      assert(full("exploitdb") == 1 && full("metasploit") == 1,
        "a fresh forge source must skip its download entirely")
      assert(full("epss") == 1 && full("cisa") == 1,
        "a fresh in-body source must re-download nothing beyond the prefix probe")
      assert(full("gitlab") == 2 && full("github") == 2)
      assert(ranged("epss") == 2 && ranged("cisa") == 2)
      assert(DailyLoop.committedTick(spark, DailyLoop.Paths(root))._1 == 2L)
      assert(Main.landingFrom(s"$root/landing/2").isEmpty,
        "a fresh-everywhere tick lands no source files")
      // stored stamps did NOT advance
      assert(slu("epss").contains(iso("2025-04-03T00:00:00Z")))
      assert(slu("exploitdb").contains(iso("2025-04-03T08:00:00Z")))

      // ---- tick 3: two upstreams move → exactly those two re-fetch
      epssDate = "2025-04-12T00:00:00Z"
      exploitCommit = "2025-04-12T08:00:00.000Z"
      tick(3)
      assert(full("exploitdb") == 2 && full("epss") == 2,
        "changed upstreams must re-fetch")
      assert(full("metasploit") == 1 && full("cisa") == 1,
        "unchanged upstreams must stay skipped")
      assert(slu("epss").contains(iso("2025-04-12T00:00:00Z")))
      assert(slu("exploitdb").contains(iso("2025-04-12T08:00:00Z")))
      assert(slu("metasploit").contains(iso("2025-04-03T09:00:00Z")))
      assert(DailyLoop.committedTick(spark, DailyLoop.Paths(root))._1 == 3L)
    } finally server.stop(0)
  }

  test("an EPSS failure logs and the tick continues; any other source failure kills the run") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, status: Int, body: Array[Byte]): Unit =
      server.createContext(path, new HttpHandler {
        def handle(ex: HttpExchange): Unit = {
          ex.sendResponseHeaders(status, body.length.toLong)
          try ex.getResponseBody.write(body)
          catch { case _: java.io.IOException => () }
          ex.close()
        }
      })
    def bytesOf(resource: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(res(resource)))
    // EPSS hard-404s (non-retryable); CISA is healthy
    serve("/epss/epss_scores-current.csv.gz", 404, "gone".getBytes("UTF-8"))
    serve("/cisa/known_exploited_vulnerabilities.json", 200,
      bytesOf("known_exploited_vulnerabilities.json"))
    serve("/exploitdb/files_exploits.csv", 404, "gone".getBytes("UTF-8"))
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = SparkSpec.tempDir("main_epssfail_")
        .resolve("root").toString
      // the reference's EPSS handler self-guards its update path
      // (epss_handler.py:167-169) — the job survives an EPSS outage
      val conf = Config.parse(
        s"""[epss]
           |url: $base/epss/epss_scores-current.csv.gz
           |[cisa]
           |url: $base/cisa/known_exploited_vulnerabilities.json
           |""".stripMargin)
      Main.run(spark, conf, root, once = true,
        stop = new java.util.concurrent.atomic.AtomicBoolean(false),
        clock = () => ts("2025-04-01 00:00:00"), fetch = true)
      val land = s"$root/landing/1"
      assert(!new java.io.File(s"$land/epss_scores.csv.gz").exists())
      assert(new java.io.File(s"$land/known_exploited_vulnerabilities.json").isFile)
      assert(DailyLoop.committedTick(spark, DailyLoop.Paths(root))._1 == 1L)
      val snap = spark.read.parquet(s"$root/snapshot")
      assert(snap.filter(col("kev").isNotNull).count() > 0)
      assert(Watermarks.sourceLastUpdate(spark, s"$root/status", "epss").isEmpty)
      // every OTHER source propagates, reference-style (the handlers
      // have no guard; a dead upstream is a dead run, visible loudly)
      val conf2 = Config.parse(
        s"[exploitdb]\nurl: $base/exploitdb/files_exploits.csv\n")
      intercept[java.io.IOException] {
        Main.run(spark, conf2, root, once = true,
          stop = new java.util.concurrent.atomic.AtomicBoolean(false),
          clock = () => ts("2025-04-02 00:00:00"), fetch = true)
      }
    } finally server.stop(0)
  }

  test("a delta log that parses to zero entries skips cve.org without failing the tick") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, body: Array[Byte]): Unit =
      server.createContext(path, new HttpHandler {
        def handle(ex: HttpExchange): Unit = {
          ex.sendResponseHeaders(200, body.length.toLong)
          try ex.getResponseBody.write(body)
          catch { case _: java.io.IOException => () }
          ex.close()
        }
      })
    // a 200-status body that is NOT the delta-log shape (an error page
    // behind a proxy) — the declared-schema read parses it to zero rows
    serve("/cveorg/deltaLog.json",
      "<html>rate limited, try later</html>".getBytes("UTF-8"))
    serve("/cisa/known_exploited_vulnerabilities.json",
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        res("known_exploited_vulnerabilities.json"))))
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = SparkSpec.tempDir("main_badlog_")
        .resolve("root").toString
      val conf = Config.parse(
        s"""[cveorg]
           |url_updates: $base/cveorg/deltaLog.json
           |[cisa]
           |url: $base/cisa/known_exploited_vulnerabilities.json
           |""".stripMargin)
      Main.run(spark, conf, root, once = true,
        stop = new java.util.concurrent.atomic.AtomicBoolean(false),
        clock = () => ts("2025-04-01 00:00:00"), fetch = true)
      // the tick survived: the healthy source merged and committed; the
      // malformed log neither landed a cveorg dir, nor a stamp, nor NPE'd
      assert(DailyLoop.committedTick(spark, DailyLoop.Paths(root))._1 == 1L)
      assert(spark.read.parquet(s"$root/snapshot")
        .filter(col("kev").isNotNull).count() > 0)
      assert(!new java.io.File(s"$root/landing/1/cveorg").exists())
      assert(Watermarks.sourceLastUpdate(spark, s"$root/status", "cveorg").isEmpty)
    } finally server.stop(0)
  }

  test("fan-out allowlist: off-allowlist delta links are refused loudly and never fetched") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val evilHits = new AtomicInteger
    val probeHits = new AtomicInteger
    def serve(path: String, counter: Option[AtomicInteger], body: String): Unit =
      server.createContext(path, new HttpHandler {
        def handle(ex: HttpExchange): Unit = {
          counter.foreach(_.incrementAndGet())
          val b = body.getBytes("UTF-8")
          ex.sendResponseHeaders(200, b.length.toLong)
          ex.getResponseBody.write(b); ex.close()
        }
      })
    server.setExecutor(null)
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    // the delta log is FETCHED content: one link inside the allowlist,
    // one pointing elsewhere (the SSRF shape — a compromised upstream
    // steering executor GETs at internal endpoints)
    serve("/cveorg/deltaLog.json", None,
      s"""[{"fetchTime":"2025-04-05T10:00:00.000Z","numberOfChanges":2,
           "updated":[{"cveId":"CVE-2024-0001",
             "githubLink":"$base/raw/CVE-2024-0001.json",
             "dateUpdated":"2025-04-05T09:59:00.000Z"}],
           "new":[{"cveId":"CVE-2024-0002",
             "githubLink":"$base/evil/CVE-2024-0002.json",
             "dateUpdated":"2025-04-05T09:58:00.000Z"}]},
          {"fetchTime":"2025-04-01T00:00:00.000Z","numberOfChanges":0,
           "updated":[],"new":[]}]""")
    serve("/raw/CVE-2024-0001.json", None,
      """{"cveMetadata": {"cveId": "CVE-2024-0001", "state": "PUBLISHED"},
         "containers": {"cna": {"title": "ok"}}}""")
    serve("/evil/CVE-2024-0002.json", Some(evilHits), "{}")
    serve("/probe/last-commit", Some(probeHits), "[]")
    try {
      val conf = Config.parse(
        s"""[cveorg]
           |url_updates: $base/cveorg/deltaLog.json
           |allowed_url_prefixes: $base/raw/, $base/cveorg/
           |[exploitdb]
           |probe_url: $base/probe/last-commit
           |allowed_url_prefixes: $base/elsewhere/
           |""".stripMargin)
      val dir = SparkSpec.tempDir("fetch_allow_")
        .toString
      val wm = Timestamp.from(
        java.time.OffsetDateTime.parse("2025-04-01T00:00:00Z").toInstant)
      val stamp = Main.fetchCveOrg(spark, conf, dir, Some(wm))
      // the on-allowlist record landed; the off-allowlist one was
      // refused BEFORE any GET — the evil endpoint never saw a request
      assert(new java.io.File(s"$dir/cveorg/CVE-2024-0001.json").isFile)
      assert(!new java.io.File(s"$dir/cveorg/CVE-2024-0002.json").exists())
      assert(evilHits.get() == 0,
        "an off-allowlist link must never be fetched")
      // the stamp consumed every entry (the refusal is deliberate and
      // permanent, not a retry)
      assert(stamp.contains(Timestamp.from(
        java.time.OffsetDateTime.parse("2025-04-05T10:00:00Z").toInstant)))
      // probe_url outside its section's allowlist: the probe degrades
      // to "fetch anyway" (None) without a GET
      assert(Main.probeStamp(conf, "exploitdb", s"$base/whatever",
        conf.fetchPolicy("exploitdb")).isEmpty)
      assert(probeHits.get() == 0,
        "an off-allowlist probe_url must never be probed")
      // no allowlist configured = the pre-existing trust model: the
      // same log fans out BOTH links
      val conf2 = Config.parse(
        s"""[cveorg]
           |url_updates: $base/cveorg/deltaLog.json
           |""".stripMargin)
      val dir2 = SparkSpec.tempDir("fetch_allow2_")
        .toString
      Main.fetchCveOrg(spark, conf2, dir2, Some(wm))
      assert(new java.io.File(s"$dir2/cveorg/CVE-2024-0002.json").isFile)
      assert(evilHits.get() == 1)
    } finally server.stop(0)
  }

  test("crash re-run commits the LANDED stamps, not the live upstream's") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var epssDate = "2025-04-01T06:00:00Z"
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("UTF-8")); g.close()
      bos.toByteArray
    }
    server.createContext("/epss/epss_scores-current.csv.gz", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val b = gz(s"#model_version:v1,score_date:$epssDate\n" +
          "cve,epss,percentile\nCVE-2024-0001,0.5,0.9\n")
        ex.sendResponseHeaders(200, b.length.toLong)
        try ex.getResponseBody.write(b)
        catch { case _: java.io.IOException => () } // ranged probe closed early
        ex.close()
      }
    })
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = SparkSpec.tempDir("main_crashstamp_")
        .resolve("root").toString
      val conf = Config.parse(
        s"[epss]\nurl: $base/epss/epss_scores-current.csv.gz\n")
      val status = s"$root/status"
      def slu() = Watermarks.sourceLastUpdate(spark, status, "epss")
      def iso(s: String) = Timestamp.from(
        java.time.OffsetDateTime.parse(s).toInstant)

      // tick 1's FETCH completes (landing + _STAMPS + marker), then the
      // tick "crashes" before committing anything
      Main.fetchLanding(spark, conf, s"$root/landing/1",
        statusPath = Some(status), now = ts("2025-04-01 00:00:00"))
      assert(Main.stampsFrom(s"$root/landing/1") ==
        Map("epss" -> iso("2025-04-01T06:00:00Z")))
      // the upstream publishes BETWEEN the crash and the re-run
      epssDate = "2025-04-02T06:00:00Z"
      // re-run of the same seq: the marker makes it consume the landed
      // delta verbatim — it must commit the stamp the LANDED file was
      // current at, not the live upstream's (the landed file IS the old
      // publication; stamping the new one would mark data as newer than
      // it is and wrongly skip the next real fetch)
      Main.run(spark, conf, root, once = true,
        stop = new java.util.concurrent.atomic.AtomicBoolean(false),
        clock = () => ts("2025-04-01 00:05:00"), fetch = true)
      assert(slu().contains(iso("2025-04-01T06:00:00Z")),
        "the committed stamp must be the landed sidecar's value")
      // the NEXT tick probes, sees the newer upstream, and re-fetches
      Main.run(spark, conf, root, once = true,
        stop = new java.util.concurrent.atomic.AtomicBoolean(false),
        clock = () => ts("2025-04-02 00:00:00"), fetch = true)
      assert(slu().contains(iso("2025-04-02T06:00:00Z")),
        "the follow-up tick must catch the publication the crash window hid")
    } finally server.stop(0)
  }

  test("window GROUPS pause one rate window at the boundary and land every chunk") {
    // ADVICE r15: sequential window groups each build FRESH per-partition
    // RateLimiters, so back-to-back group actions could transiently put
    // ~2x the configured budget inside one sliding window. Main now
    // sleeps windowMs at each group boundary. Scenario: rpw=1 forces two
    // one-window groups; each window holds 3 records = 2 pages, so each
    // group's action fetches page 1 DISTRIBUTED — the observable is the
    // arrival gap between the two page-1 requests.
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var corpus = initRecs
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    server.createContext("/rest/json/cves/2.0", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").filter(_.nonEmpty).map(_.split("=", 2))
          .map(a => a(0) -> a.lift(1).getOrElse("")).toMap +
          ("arrival_nanos" -> System.nanoTime().toString)
        queries.add(params)
        def modAt(r: Rec) = ts(r.lastModified.replace("T", " ")
          .stripSuffix(".000")).toInstant
        val win = (params.get("lastModStartDate"),
                   params.get("lastModEndDate")) match {
          case (Some(s), Some(e)) =>
            val (start, end) =
              (java.time.Instant.parse(s), java.time.Instant.parse(e))
            corpus.filter(r =>
              !modAt(r).isBefore(start) && !modAt(r).isAfter(end))
          case _ => corpus
        }
        val body = pageBody(win,
          params("startIndex").toLong / PerPage).getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = SparkSpec.tempDir("main_groups_")
        .resolve("root").toString
      val windowMs = 3000L
      // public tier (no apikey), ONE request per 3 s window, 1-day caps
      val conf = Config.parse(
        s"""[nvd]
           |url: $base/rest/json/cves/2.0
           |results_per_page: $PerPage
           |retry_delay: 0
           |public_rate_limit: 1
           |rolling_window: ${windowMs / 1000}
           |max_window_days: 1
           |""".stripMargin)
      def tick(day: Int): Unit = {
        Main.run(spark, conf, root, once = true,
          stop = new java.util.concurrent.atomic.AtomicBoolean(false),
          clock = () => ts(f"2025-04-0$day%d 00:00:00"), fetch = true); ()
      }
      tick(1) // day zero: one unwindowed group, stamp = 04-01
      queries.clear()
      // two days dormant with 1-day caps → TWO chunk windows; rpw=1 →
      // two GROUPS of one window each, with a boundary pause between.
      // Three records per window = 2 pages each (page 0 is the probe
      // body; page 1 is the group action's distributed fetch).
      corpus = initRecs ++ Seq(
        Rec("CVE-2025-0011", "2025-04-01T06:00:00.000", "Received", "w1 a"),
        Rec("CVE-2025-0012", "2025-04-01T07:00:00.000", "Received", "w1 b"),
        Rec("CVE-2025-0013", "2025-04-01T08:00:00.000", "Received", "w1 c"),
        Rec("CVE-2025-0021", "2025-04-02T06:00:00.000", "Received", "w2 a"),
        Rec("CVE-2025-0022", "2025-04-02T07:00:00.000", "Received", "w2 b"),
        Rec("CVE-2025-0023", "2025-04-02T08:00:00.000", "Received", "w2 c"))
      tick(3)
      val q = {
        val out = Seq.newBuilder[Map[String, String]]
        var m = queries.poll()
        while (m != null) { out += m; m = queries.poll() }
        out.result()
      }
      // 2 probes + 2 distributed page-1 fetches, nothing else
      assert(q.size == 4, s"2 windows x (probe + page 1) expected, got $q")
      val page1 = q.filter(_("startIndex") == PerPage.toString)
      assert(page1.size == 2 &&
        page1.map(_("lastModStartDate")).distinct.size == 2,
        s"each chunk window must fetch its own page 1, got $page1")
      val gapMs = (page1.map(_("arrival_nanos").toLong).max -
                   page1.map(_("arrival_nanos").toLong).min) / 1000000L
      assert(gapMs >= windowMs,
        s"group actions must sit >= one rate window apart, gap was $gapMs ms")
      // the pause must not cost correctness: every chunk's records land,
      // page numbers disjoint across groups (5 init + 6 new)
      assert(spark.read.parquet(s"$root/snapshot").count() == 11)
      assert(Watermarks.sourceLastUpdate(spark, s"$root/status", "nvd")
        .contains(ts("2025-04-03 00:00:00")))
    } finally server.stop(0)
  }

  test("shutdown during a multi-group pull aborts the pause, skips the stamp, and recovers") {
    // ADVICE r16: the boundary pause used to be a bare
    // Thread.sleep(windowMs) that ignored the stop flag — shutdown
    // during a multi-chunk dormant resume blocked up to a full
    // public-tier window per boundary. The pause is now sliced and
    // stop-aware: on shutdown the remaining groups are ABANDONED, the
    // nvd watermark stays unset (the windows were not all consumed)
    // and the landing is NOT marked complete, so the next tick
    // re-pulls every window and the idempotent merge heals the prefix.
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var corpus = initRecs
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    server.createContext("/rest/json/cves/2.0", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").filter(_.nonEmpty).map(_.split("=", 2))
          .map(a => a(0) -> a.lift(1).getOrElse("")).toMap
        queries.add(params)
        def modAt(r: Rec) = ts(r.lastModified.replace("T", " ")
          .stripSuffix(".000")).toInstant
        val win = (params.get("lastModStartDate"),
                   params.get("lastModEndDate")) match {
          case (Some(s), Some(e)) =>
            val (start, end) =
              (java.time.Instant.parse(s), java.time.Instant.parse(e))
            corpus.filter(r =>
              !modAt(r).isBefore(start) && !modAt(r).isAfter(end))
          case _ => corpus
        }
        val body = pageBody(win,
          params("startIndex").toLong / PerPage).getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = SparkSpec.tempDir("main_stop_")
        .resolve("root").toString
      def conf(windowSec: Int) = Config.parse(
        s"""[nvd]
           |url: $base/rest/json/cves/2.0
           |results_per_page: $PerPage
           |retry_delay: 0
           |public_rate_limit: 1
           |rolling_window: $windowSec
           |max_window_days: 1
           |""".stripMargin)
      def tick(day: Int, c: Config.Conf,
               stop: java.util.concurrent.atomic.AtomicBoolean): Unit = {
        Main.run(spark, c, root, once = true, stop = stop,
          clock = () => ts(f"2025-04-0$day%d 00:00:00"), fetch = true); ()
      }
      tick(1, conf(3), new java.util.concurrent.atomic.AtomicBoolean(false))
      queries.clear()
      corpus = initRecs ++ Seq(
        Rec("CVE-2025-0011", "2025-04-01T06:00:00.000", "Received", "w1 a"),
        Rec("CVE-2025-0012", "2025-04-01T07:00:00.000", "Received", "w1 b"),
        Rec("CVE-2025-0013", "2025-04-01T08:00:00.000", "Received", "w1 c"),
        Rec("CVE-2025-0021", "2025-04-02T06:00:00.000", "Received", "w2 a"),
        Rec("CVE-2025-0022", "2025-04-02T07:00:00.000", "Received", "w2 b"),
        Rec("CVE-2025-0023", "2025-04-02T08:00:00.000", "Received", "w2 c"))
      // shutdown arrives while group 1's action is in flight: a watcher
      // flips the stop flag the moment the first page-1 request lands,
      // so the boundary pause (and group 2) must be skipped — whether
      // the flag is seen before the pause starts or mid-slice
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val watcher = new Thread(() => {
        while (!stop.get()) {
          val it = queries.iterator()
          var seen = false
          while (it.hasNext && !seen)
            seen = it.next()("startIndex") == PerPage.toString
          if (seen) stop.set(true) else Thread.sleep(10)
        }
      })
      watcher.setDaemon(true)
      watcher.start()
      tick(3, conf(3), stop)
      watcher.join(2000)
      val q = {
        val out = Seq.newBuilder[Map[String, String]]
        var m = queries.poll()
        while (m != null) { out += m; m = queries.poll() }
        out.result()
      }
      // 2 probes ran (they precede the groups); only window 1's page 1
      // was fetched — group 2 was abandoned at the boundary
      assert(q.count(_("startIndex") == PerPage.toString) == 1,
        s"the second group must be abandoned on shutdown, got $q")
      // window 1's records landed and the tick committed...
      assert(spark.read.parquet(s"$root/snapshot").count() == 8)
      // ...but the watermark did NOT advance and the landing was not
      // marked complete (a prefix of the windows is not a consumed pull)
      assert(Watermarks.sourceLastUpdate(spark, s"$root/status", "nvd")
        .contains(ts("2025-04-01 00:00:00")))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/landing/2", Main.LandedMarker)),
        "an aborted fetch must not mark its landing complete")
      // recovery: the next tick re-pulls BOTH windows from the stored
      // watermark and the idempotent merge heals the w1 prefix
      tick(3, conf(3), new java.util.concurrent.atomic.AtomicBoolean(false))
      assert(spark.read.parquet(s"$root/snapshot").count() == 11)
      assert(Watermarks.sourceLastUpdate(spark, s"$root/status", "nvd")
        .contains(ts("2025-04-03 00:00:00")))
    } finally server.stop(0)
  }

  test("--fetch windows the paginated pull to the stored watermark (lastModStartDate parity)") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // upstream state is mutable: tick 2 sees two modifications, tick 3 none
    @volatile var corpus = initRecs
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    server.createContext("/rest/json/cves/2.0", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        // getQuery pre-decodes (%3A → ':'), like the real API's stack
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").filter(_.nonEmpty).map(_.split("=", 2))
          .map(a => a(0) -> a.lift(1).getOrElse("")).toMap ++
          // record the keyed-tier credential header alongside the params
          Option(ex.getRequestHeaders.getFirst("apikey"))
            .map("header:apikey" -> _)
        queries.add(params)
        // apply the lastMod bounds exactly as the real API does
        // (nvd_handler.py:143-166): inclusive [start, end]
        def modAt(r: Rec) = ts(r.lastModified.replace("T", " ")
          .stripSuffix(".000")).toInstant
        val win = (params.get("lastModStartDate"),
                   params.get("lastModEndDate")) match {
          case (Some(s), Some(e)) =>
            val (start, end) =
              (java.time.Instant.parse(s), java.time.Instant.parse(e))
            corpus.filter(r =>
              !modAt(r).isBefore(start) && !modAt(r).isAfter(end))
          case _ => corpus
        }
        val body = pageBody(win,
          params("startIndex").toLong / PerPage).getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = SparkSpec.tempDir("main_window_")
        .resolve("root").toString
      val conf = Config.parse(
        s"""[nvd]
           |url: $base/rest/json/cves/2.0
           |results_per_page: $PerPage
           |retry_delay: 0
           |apikey: it-is-a-fixture-key
           |""".stripMargin)
      def tick(day: Int): Unit = {
        Main.run(spark, conf, root, once = true,
          stop = new java.util.concurrent.atomic.AtomicBoolean(false),
          clock = () => ts(f"2025-04-0$day%d 00:00:00"), fetch = true); ()
      }
      def drain(): Seq[Map[String, String]] = {
        val out = Seq.newBuilder[Map[String, String]]
        var m = queries.poll()
        while (m != null) { out += m; m = queries.poll() }
        out.result()
      }
      val status = s"$root/status"

      // ---- tick 1: day zero — a full UNWINDOWED pull (the init path)
      tick(1)
      val q1 = drain()
      assert(q1.nonEmpty && q1.forall(!_.contains("lastModStartDate")),
        "day zero must pull the full corpus, unwindowed")
      // exactly numPages requests: the driver's totalResults probe BODY
      // lands as page 0, so the distributed fetch starts at page 1 —
      // no duplicate page-0 request against the rate-limited upstream
      assert(q1.map(_("startIndex")).sorted == Seq("0", "2", "4"),
        s"5 results at 2/page = exactly 3 requests, one per page, got $q1")
      assert(q1.forall(_.get("header:apikey").contains("it-is-a-fixture-key")),
        "the keyed tier's credential must ride every request as a header")
      assert(spark.read.parquet(s"$root/snapshot").count() == 5)
      assert(Watermarks.sourceLastUpdate(spark, status, "nvd")
        .contains(ts("2025-04-01 00:00:00")))

      // ---- tick 2: two upstream modifications → a WINDOWED pull that
      // fetches exactly them (one page, not the whole corpus)
      corpus = initRecs.filterNot(_.id == "CVE-2025-0001") ++ laterRecs
      tick(2)
      val q2 = drain()
      assert(q2.nonEmpty)
      val expectStart = java.net.URLDecoder.decode(
        Main.encodeStamp(ts("2025-04-01 00:00:00")), "UTF-8")
      q2.foreach { p =>
        assert(p.get("lastModStartDate").contains(expectStart),
          s"update pull must window from the stored stamp, got $p")
        assert(p.contains("lastModEndDate"))
      }
      assert(q2.size == 1,
        s"a one-page windowed delta costs exactly ONE request (the probe " +
          s"body IS the landed page), got ${q2.size}")
      val pages2 = new java.io.File(s"$root/landing/2/nvd_pages")
        .listFiles().map(_.getName).count(_.startsWith("page-"))
      assert(pages2 == 1, "the windowed delta is ONE page, not the corpus")
      val snap2 = spark.read.parquet(s"$root/snapshot")
      assert(snap2.count() == 6) // 5 + 1 new; 0001 upserted, not duplicated
      assert(snap2.filter(col("id") === "CVE-2025-0001")
        .select("nvd.vulnStatus").head().getString(0) == "Analyzed")
      assert(Watermarks.sourceLastUpdate(spark, status, "nvd")
        .contains(ts("2025-04-02 00:00:00")))

      // ---- tick 3: nothing modified in the window → no landing at all,
      // but the tick still commits and the consumed window advances the
      // stamp (bounded windows, like the reference's update_status)
      tick(3)
      val q3 = drain()
      assert(q3.size == 1, "an empty window costs exactly the page-0 probe")
      assert(!new java.io.File(s"$root/landing/3/nvd_pages").exists(),
        "an empty window must not land an empty pages dir")
      assert(Main.landingFrom(s"$root/landing/3").isEmpty)
      assert(DailyLoop.committedTick(spark, DailyLoop.Paths(root))._1 == 3L)
      assert(Watermarks.sourceLastUpdate(spark, status, "nvd")
        .contains(ts("2025-04-03 00:00:00")))
      assert(spark.read.parquet(s"$root/snapshot").count() == 6)

      // ---- tick 4, ~5 months later: the span exceeds one 120-day
      // window (the real API would reject it) but not
      // max_window_chunks → the pull CHUNKS into consecutive
      // cap-sized windows and stays incremental: only the chunk with
      // the dormant-period modification lands
      corpus = corpus :+ Rec("CVE-2025-0007",
        "2025-08-15T00:00:00.000", "Received", "seventh")
      Main.run(spark, conf, root, once = true,
        stop = new java.util.concurrent.atomic.AtomicBoolean(false),
        clock = () => ts("2025-09-01 00:00:00"), fetch = true)
      val q4 = drain()
      def iso(t: java.sql.Timestamp) =
        java.net.URLDecoder.decode(Main.encodeStamp(t), "UTF-8")
      val starts = q4.flatMap(_.get("lastModStartDate")).distinct.sorted
      assert(starts == Seq(iso(ts("2025-04-03 00:00:00")),
        iso(ts("2025-08-01 00:00:00"))), // stored + 120 days
        s"two consecutive cap-sized windows expected, got $starts")
      assert(q4.forall(_.contains("lastModEndDate")))
      assert(q4.size == 2,
        s"two chunk windows, one page each consumed at the probe — " +
          s"exactly 2 requests, got ${q4.size}")
      val pages4 = new java.io.File(s"$root/landing/4/nvd_pages")
        .listFiles().map(_.getName).count(_.startsWith("page-"))
      assert(pages4 == 1, "only the chunk carrying the modification lands")
      assert(spark.read.parquet(s"$root/snapshot").count() == 7)
      assert(Watermarks.sourceLastUpdate(spark, status, "nvd")
        .contains(ts("2025-09-01 00:00:00")))

      // ---- tick 5, a dormant YEAR: beyond max_window_chunks the sum
      // of window deltas would outgrow the corpus (every record
      // re-fetches once per window it changed in) → init-style FULL
      // unwindowed pull, the cheaper correct plan
      Main.run(spark, conf, root, once = true,
        stop = new java.util.concurrent.atomic.AtomicBoolean(false),
        clock = () => ts("2026-09-01 00:00:00"), fetch = true)
      val q5 = drain()
      assert(q5.nonEmpty && q5.forall(!_.contains("lastModStartDate")),
        "a span beyond the chunk budget must fall back to the full pull")
      assert(q5.map(_("startIndex")).sorted == Seq("0", "2", "4", "6"),
        s"7 results at 2/page = exactly 4 requests, no duplicate page 0, got $q5")
      val pages5 = new java.io.File(s"$root/landing/5/nvd_pages")
        .listFiles().map(_.getName).count(_.startsWith("page-"))
      assert(pages5 == 4) // ceil(7/2): the whole corpus re-lands
      assert(spark.read.parquet(s"$root/snapshot").count() == 7)
      assert(Watermarks.sourceLastUpdate(spark, status, "nvd")
        .contains(ts("2026-09-01 00:00:00")))
    } finally server.stop(0)
  }

  test("a zero-totalResults UNWINDOWED pull leaves the watermark unset; the next tick retries the full pull") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // tick 1: the upstream glitches — a well-formed 200 with
    // totalResults: 0 on the DAY-ZERO (unwindowed) pull. Stamping `now`
    // here would make every later windowed tick skip the entire corpus
    // predating it.
    @volatile var corpus = Seq.empty[Rec]
    server.createContext("/rest/json/cves/2.0", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").filter(_.nonEmpty).map(_.split("=", 2))
          .map(a => a(0) -> a.lift(1).getOrElse("")).toMap
        val body = pageBody(corpus,
          params("startIndex").toLong / PerPage).getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.setExecutor(null)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = SparkSpec.tempDir("main_zerotot_")
        .resolve("root").toString
      val conf = Config.parse(
        s"""[nvd]
           |url: $base/rest/json/cves/2.0
           |results_per_page: $PerPage
           |retry_delay: 0
           |""".stripMargin)
      def tick(day: Int): Unit = {
        Main.run(spark, conf, root, once = true,
          stop = new java.util.concurrent.atomic.AtomicBoolean(false),
          clock = () => ts(f"2025-04-0$day%d 00:00:00"), fetch = true); ()
      }
      tick(1)
      // the glitchy zero landed nothing AND stamped nothing (the tick
      // itself still commits — other sources may have landed)
      assert(!new java.io.File(s"$root/landing/1/nvd_pages").exists())
      assert(Watermarks.sourceLastUpdate(spark, s"$root/status", "nvd").isEmpty,
        "an unwindowed zero must not advance the watermark")
      assert(DailyLoop.committedTick(spark, DailyLoop.Paths(root))._1 == 1L)
      // tick 2: upstream recovered — still day zero (no stamp), so the
      // FULL corpus lands and the stamp finally advances
      corpus = initRecs
      tick(2)
      assert(spark.read.parquet(s"$root/snapshot").count() == 5)
      assert(Watermarks.sourceLastUpdate(spark, s"$root/status", "nvd")
        .contains(ts("2025-04-02 00:00:00")))
    } finally server.stop(0)
  }

  test("streamed single-file fetch: a large body lands byte-exact through disk, surviving a mid-download 503") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // 80 MB of deterministic bytes, written in 1 MB chunks — the body
    // class httpBytes' whole-body heap buffering was flagged for; the
    // streaming path must land it byte-exact without holding it
    val chunk = Array.tabulate[Byte](1 << 20)(i => (i * 31 + 7).toByte)
    val chunks = 80
    val digestOf = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (0 until chunks).foreach(_ => md.update(chunk))
      md.digest().toSeq
    }
    val hits = new AtomicInteger
    server.createContext("/big.bin", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        if (hits.incrementAndGet() == 1) {
          // first attempt dies mid-body: headers + half the chunks, then
          // an abrupt close — the retry must overwrite the partial temp
          ex.sendResponseHeaders(200, (chunks.toLong << 20))
          val out = ex.getResponseBody
          try { (0 until chunks / 2).foreach(_ => out.write(chunk)) }
          finally ex.close()
        } else {
          ex.sendResponseHeaders(200, (chunks.toLong << 20))
          val out = ex.getResponseBody
          (0 until chunks).foreach(_ => out.write(chunk))
          ex.close()
        }
      }
    })
    server.setExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(2))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val work = SparkSpec.tempDir("fetch_stream")
      val dest = work.resolve("big.bin")
      // the truncated first attempt surfaces as an IO failure the shared
      // retry loop does NOT swallow (it is not a 403/503) — drive it
      // with a get that maps the stream break to a transient failure,
      // the same contract a flaky mirror presents
      val n = Fetch.downloadFileWithRetry(s"$base/big.bin",
        Policy(retryDelayMs = 1L), dest, sleeper = _ => (),
        get = (u, d) =>
          try Fetch.httpToFile(u, d)
          catch { case e: java.io.IOException =>
            throw new TransientFetchException(e.getMessage) })
      assert(n == (chunks.toLong << 20))
      assert(hits.get() == 2, "the mid-body break must have been retried")
      assert(java.nio.file.Files.size(dest) == (chunks.toLong << 20))
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val in = java.nio.file.Files.newInputStream(dest)
      val buf = new Array[Byte](1 << 20)
      try {
        var r = in.read(buf)
        while (r > 0) { md.update(buf, 0, r); r = in.read(buf) }
      } finally in.close()
      assert(md.digest().toSeq == digestOf, "landed bytes must be exact")
      assert(!java.nio.file.Files.exists(
        work.resolve("big.bin.inprogress")),
        "the temp file must be gone after the atomic move")
    } finally server.stop(0)
  }

  test("landPages: empty fetch lands nothing and returns 0") {
    val work = SparkSpec.tempDir("fetch_e2e0").toString
    val n = Landing.landPages(
      Fetch.fetchPages(spark, totalResults = 0L, Policy(resultsPerPage = 2),
        numPartitions = 2, (_: Long) => "unused"),
      s"$work/empty")
    assert(n == 0L)
  }

  test("landPages: re-landing a smaller fetch wipes the earlier tick's stale pages") {
    val work = SparkSpec.tempDir("fetch_reland").toString
    val dir = s"$work/land"
    def pageFiles() = new java.io.File(dir).listFiles
      .map(_.getName).filter(_.startsWith("page-")).sorted.toSeq
    val transport = (p: Long) => s"""{"page":$p}"""
    val first = Landing.landPages(
      Fetch.fetchPages(spark, totalResults = 6L, Policy(resultsPerPage = 2),
        numPartitions = 2, transport), dir)
    assert(first == 3L && pageFiles().size == 3)
    // a later, smaller tick into the SAME dir: the scan must see exactly
    // this tick's pages — page-00002 from the first landing must be gone
    val second = Landing.landPages(
      Fetch.fetchPages(spark, totalResults = 2L, Policy(resultsPerPage = 2),
        numPartitions = 2, transport), dir)
    assert(second == 1L)
    assert(pageFiles() == Seq("page-00000.json"))
  }
}

/** Fixture server + transports live on the companion so Spark closures
  * capture the object, not the spec instance. */
object FetchE2eSpec {
  /** Attempt counts per page, shared across executor threads (local mode). */
  val attempts = new ConcurrentHashMap[Long, AtomicInteger]()

  private case class Rec(id: String, lastModified: String,
                         vulnStatus: String, desc: String)

  /** Server state at init time: 5 CVEs, none modified after t0. */
  private val initRecs = Seq(
    Rec("CVE-2025-0001", "2025-03-01T00:00:00.000", "Received", "first"),
    Rec("CVE-2025-0002", "2025-03-02T00:00:00.000", "Analyzed", "second"),
    Rec("CVE-2025-0003", "2025-03-03T00:00:00.000", "Analyzed", "third"),
    Rec("CVE-2025-0004", "2025-03-04T00:00:00.000", "Modified", "fourth"),
    Rec("CVE-2025-0005", "2025-03-05T00:00:00.000", "Analyzed", "fifth"))

  /** Server state during the second tick's window: 0001 re-analyzed, 0006
    * published — both with lastModified after the first watermark. */
  private val laterRecs = Seq(
    Rec("CVE-2025-0001", "2025-04-01T02:00:00.000", "Analyzed", "first (updated)"),
    Rec("CVE-2025-0006", "2025-04-01T03:00:00.000", "Received", "sixth"))

  private val PerPage = 2

  private def pageBody(recs: Seq[Rec], page: Long): String = {
    val slice = recs.slice((page * PerPage).toInt, ((page + 1) * PerPage).toInt)
    val vulns = slice.map { r =>
      s"""{"cve":{"id":"${r.id}","lastModified":"${r.lastModified}",""" +
        s""""vulnStatus":"${r.vulnStatus}",""" +
        s""""descriptions":[{"lang":"en","value":"${r.desc}"}]}}"""
    }.mkString(",")
    s"""{"resultsPerPage":$PerPage,"startIndex":${page * PerPage},""" +
      s""""totalResults":${recs.size},"vulnerabilities":[$vulns]}"""
  }

  private def count(page: Long): Int =
    attempts.computeIfAbsent(page, _ => new AtomicInteger).incrementAndGet()

  /** Init transport: full corpus; page 1 throws a 503 on its first
    * attempt so the retry path is exercised inside the distributed job. */
  val initTransport: Long => String = { page =>
    if (count(page) == 1 && page == 1L) throw new TransientFetchException("503")
    pageBody(initRecs, page)
  }

  /** Windowed transport: the server applies lastModStartDate=since, the
    * same filter the real API applies (nvd_handler.py:90-120). */
  def windowTransport(since: Timestamp): Long => String = { page =>
    val window = (initRecs ++ laterRecs).filter { r =>
      Timestamp.valueOf(r.lastModified.replace("T", " ").stripSuffix(".000"))
        .after(since)
    }
    pageBody(window, page)
  }

  def parseTotal(body: String): Long =
    """"totalResults":(\d+)""".r.findFirstMatchIn(body)
      .map(_.group(1).toLong)
      .getOrElse(sys.error("no totalResults in page body"))
}
