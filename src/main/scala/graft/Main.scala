package graft

import java.nio.file.{Files, Paths => JPaths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.CvePipeline.Landing

/** The CLI entry — the reference's `main.py` surface re-expressed over
  * the Spark engine: `-d/--debug` and `-c/--config` flags
  * (main.py:41-47), the startup banner (main.py:31-39), a scheduler that
  * computes the first run's delay from the last committed run and the
  * configured interval (calculate_initial_delay, main.py:107-117;
  * setup_schedule, main.py:124-148), and graceful signal shutdown
  * (handle_shutdown, main.py:160-169) via a JVM shutdown hook flipping
  * the loop's cooperative stop flag.
  *
  * Where the reference fetches straight into Mongo, this engine's tick
  * consumes a LANDED directory per tick (the zero-egress seam the fetch
  * path writes into, sources/Fetch + sources/Landing): `main` probes
  * `<root>/landing/<seq>/` for the upstreams' own filenames — the same
  * names the reference downloads (`files_exploits.csv`,
  * `modules_metadata_base.json`, `known_exploited_vulnerabilities.json`,
  * …) — and hands DailyLoop whatever landed. Missing files simply mean
  * "that source didn't land today" (the reference's per-handler
  * try/except skip).
  *
  * Everything here is driver-side control plane: argument parsing, delay
  * arithmetic, a directory probe. The data plane stays in DailyLoop /
  * CveJob, already bounded per tick.
  */
object Main {

  /** Parsed CLI flags — argparse surface plus the landing-root and
    * run-mode knobs a fetchless deployment needs. */
  final case class Args(
      debug: Boolean = false,
      config: String = "configuration.ini",
      root: String = "graft-data",
      once: Boolean = false,
      fetch: Boolean = false,
      help: Boolean = false)

  val usage: String =
    """usage: graft [-h] [-d] [-c CONFIG] [--root DIR] [--once] [--fetch]
      |
      |CVE Data Handling Script
      |
      |  -h, --help             show this help message and exit
      |  -d, --debug            Set log level to DEBUG
      |  -c, --config CONFIG    Specify a configuration file (default: configuration.ini)
      |  --root DIR             Data root: snapshot, index, landing dirs (default: graft-data)
      |  --once                 Run one tick immediately and exit (no scheduler loop)
      |  --fetch                Fetch configured HTTP sources into the landing dir before each tick
      |""".stripMargin

  /** argparse analog: unknown flags and missing option values are
    * errors (Left), not silent defaults. */
  def parseArgs(argv: Seq[String]): Either[String, Args] = {
    @annotation.tailrec
    def go(rest: List[String], acc: Args): Either[String, Args] = rest match {
      case Nil => Right(acc)
      case ("-h" | "--help") :: t => go(t, acc.copy(help = true))
      case ("-d" | "--debug") :: t => go(t, acc.copy(debug = true))
      case ("-c" | "--config") :: v :: t if !v.startsWith("-") =>
        go(t, acc.copy(config = v))
      case ("-c" | "--config") :: _ =>
        Left("argument -c/--config: expected one argument")
      case "--root" :: v :: t if !v.startsWith("-") =>
        go(t, acc.copy(root = v))
      case "--root" :: _ => Left("argument --root: expected one argument")
      case "--once" :: t => go(t, acc.copy(once = true))
      case "--fetch" :: t => go(t, acc.copy(fetch = true))
      case other :: _ => Left(s"unrecognized arguments: $other")
    }
    go(argv.toList, Args())
  }

  /** calculate_initial_delay (main.py:107-117): no last run → run now;
    * more than one interval elapsed → run now; otherwise the remainder
    * of the interval. Millis, never negative. */
  def initialDelayMs(lastRun: Option[Timestamp], intervalHours: Double,
                     now: Timestamp): Long = lastRun match {
    case None => 0L
    case Some(last) =>
      val intervalMs = (intervalHours * 3600 * 1000).toLong
      val elapsed = now.getTime - last.getTime
      if (elapsed >= intervalMs) 0L else intervalMs - elapsed
  }

  /** convert_hours_to_hms (main.py:49-55) on millis, for log lines. */
  def formatDelay(ms: Long): String = {
    val h = ms / 3600000L
    val m = (ms % 3600000L) / 60000L
    val s = (ms % 60000L) / 1000L
    s"${h}h ${m}min ${s}s"
  }

  /** Completion marker a finished fetch writes into its landing dir:
    * the tick's delta must be a FUNCTION OF ITS SEQ for the one-marker
    * crash model to hold (every pre-commit step is idempotent only
    * under a re-run with the SAME delta). A re-fetch on a crash re-run
    * would pull LIVE upstream data that may differ between attempts —
    * so a landed dir is fetched exactly once, and re-runs consume the
    * identical files the crashed attempt saw. Crash MID-fetch leaves
    * no marker and the re-run re-fetches from scratch (landPages wipes
    * its dir; single-file lands overwrite). */
  val LandedMarker = "_LANDED"

  /** The single-file sources the reference's job fetches besides the
    * paginated ones (main.py:64-89: ExploitDB, Metasploit, CWE, EPSS,
    * CISA KEV; plus the dormant Debian tracker,
    * debian_handler.py:33-52), each mapped to its canonical landing
    * filename (the names [[landingFrom]] probes; CWE lands as the
    * archive plus its extracted XML for the S10/J4 cross-ref
    * consumer — it enriches no snapshot envelope). */
  val SingleFileSources: Seq[(String, String)] = Seq(
    "exploitdb" -> "files_exploits.csv",
    "metasploit" -> "modules_metadata_base.json",
    "cwe" -> "cwec_latest.xml.zip",
    "epss" -> "epss_scores.csv.gz",
    "cisa" -> "known_exploited_vulnerabilities.json",
    "debian" -> "debian.json")

  /** Landed stamps sidecar: `section=epochMillis` lines recording the
    * upstream publication stamp each fetched source was CURRENT at.
    * Written before the landing marker, read back into
    * `Landing.stamps`, committed as `source_last_update` by the tick's
    * freshness-stamp step — so a crash re-run stamps the identical
    * values (the stamps are part of the landed delta, not re-probed). */
  val StampsFile = "_STAMPS"

  /** Bytes the in-body freshness probes peek at (the EPSS metadata
    * line and KEV `dateReleased` both live in the first KB). */
  val ProbePrefixBytes = 4096

  /** Probe a single-file source's upstream publication stamp WITHOUT
    * downloading the file (P11/S12 — the operational wiring of
    * `Watermarks.isFresh`):
    *
    *  - a section with a `probe_url` GETs that (small) endpoint and
    *    parses a last-commit stamp, GitHub or GitLab shape — the
    *    reference's ExploitDB/Metasploit probes
    *    (exploitdb_handler.py:42-45, metasploit_handler.py:40-55,
    *    handlers/utils.py:148-222);
    *  - EPSS and CISA carry their stamp INSIDE the file (metadata
    *    line / `dateReleased`, epss_handler.py:89-120,
    *    cisa_handler.py:46-52): a ranged prefix GET peeks at the
    *    first KBs (gunzipped for the `.csv.gz` feed) — where the
    *    reference re-downloads the whole file to decide, the probe
    *    costs ~2 KB;
    *  - anything else (CWE, Debian): no stamp, fetch every tick.
    *
    * A probe failure of any kind degrades to None = "fetch anyway":
    * a broken forge API must never wedge a data source. */
  def probeStamp(conf: Config.Conf, section: String, url: String,
                 policy: graft.sources.Fetch.Policy): Option[Timestamp] =
    scala.util.Try {
      import graft.sources.Fetch
      conf.get(section, "probe_url") match {
        case Some(purl) if !conf.urlAllowed(section, purl) =>
          // off-allowlist probe endpoint: degrade to "fetch anyway"
          // (None), same as any other probe failure — loudly
          Log.warning(s"[$section] probe_url $purl is outside " +
            "allowed_url_prefixes — skipping the probe", "main")
          None
        case Some(purl) =>
          Fetch.parseCommitStamp(new String(
            Fetch.fetchFileWithRetry(purl, policy),
            java.nio.charset.StandardCharsets.UTF_8))
        case None =>
          def prefix(): String = {
            val raw = Fetch.fetchFileWithRetry(url, policy,
              get = Fetch.httpBytesPrefix(_, ProbePrefixBytes))
            if (url.endsWith(".gz")) Fetch.gunzipPrefix(raw)
            else new String(raw, java.nio.charset.StandardCharsets.UTF_8)
          }
          section match {
            case "epss" => Fetch.parseEpssStamp(prefix())
            case "cisa" => Fetch.parseKevStamp(prefix())
            case _ => None
          }
      }
    }.toOption.flatten

  /** A watermark as the reference sends it on the wire: second-
    * precision `%Y-%m-%dT%H:%M:%SZ` (nvd_handler.py:149-150), URL-
    * encoded for the query string (requests encodes the colons). */
  def encodeStamp(t: Timestamp): String =
    java.net.URLEncoder.encode(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
        .withZone(java.time.ZoneOffset.UTC).format(t.toInstant),
      java.nio.charset.StandardCharsets.UTF_8)

  /** The in-process networked fetch (--fetch): pull each configured
    * HTTP source into the tick's landing dir BEFORE the tick consumes
    * it — the reference's main.py:64-89 shape, where fetching and
    * merging live in one process. A source fetches when its config
    * section carries a `url`; NVD and Red Hat are the paginated ones
    * (probe page 0 for totalResults, ceil-div into pages, distributed
    * rate-limited pull — the Fetch/Landing S1/S2 machinery over a real
    * socket; redhat_handler.py:62-124 uses the same
    * resultsPerPage/startIndex envelope as NVD); cve.org is the
    * delta-log incremental (landed log → watermark-windowed entry set
    * → distributed per-CVE fan-out, cveorg_handler.py:114-190; day
    * zero full-clones the configured archive instead); the single-file
    * sources are driver-side STREAMING GETs (straight to the landing
    * dir, never the driver heap) with the shared bounded-retry policy.
    * Gzip sources land compressed (Hadoop codecs decompress on read);
    * zip sources additionally extract their single member beside the
    * archive (the reference's transparent decompress,
    * handlers/utils.py:105-124).
    *
    * With `statusPath` set, each stamp-bearing source is freshness-
    * GATED (P11): probe the upstream stamp first and skip both the
    * download and — by not landing the file — the downstream merge
    * when `Watermarks.isFresh` says current (the reference's
    * per-handler "Skipping update" path), and the PAGINATED sources
    * window their pull to (stored stamp, now] with the
    * lastModStartDate/lastModEndDate pair (nvd_handler.py:143-166;
    * redhat_handler.py:138-168 sends the identical params) — a daily
    * tick fetches the day's modifications, not the whole corpus. Day
    * zero (no stamp) is the reference's init: a full unwindowed pull.
    * Skipped sources advance no stamp; fetched ones land theirs in
    * [[StampsFile]] for the tick to commit (a paginated source's stamp
    * is its consumed window END — an empty window still advances it,
    * like the reference's update_status after every run, so windows
    * stay bounded). An already-landed dir (marker present) is reused
    * verbatim — see [[LandedMarker]]. */
  def fetchLanding(spark: SparkSession, conf: Config.Conf, dir: String,
                   statusPath: Option[String] = None,
                   now: Timestamp = new Timestamp(System.currentTimeMillis()),
                   shouldStop: () => Boolean = () => false): Unit = {
    import graft.sources.{Fetch, Landing}
    val marker = JPaths.get(dir, LandedMarker)
    if (Files.exists(marker)) {
      Log.info(s"[fetch] $dir already landed — re-run consumes the " +
        "identical delta (no re-fetch)", "main")
      return
    }
    Files.createDirectories(JPaths.get(dir))
    val stamps = scala.collection.mutable.Map.empty[String, Timestamp]
    def stored(section: String): Option[Timestamp] = statusPath.flatMap(sp =>
      graft.operators.Watermarks.sourceLastUpdate(spark, sp, section))
    // Shutdown is honored at every SOURCE boundary, not just the
    // window-group pause: once the stop flag is observed, every
    // remaining source (including the potentially multi-hundred-MB
    // single-file downloads and the cveorg full clone) is SKIPPED. A
    // skipped source lands nothing and stamps nothing, and an aborted
    // fetch never writes the landed marker — so the re-run re-pulls
    // exactly what was skipped (idempotent merge). `fetchAborted`
    // latches: a stop that arrives only AFTER the last source
    // completed aborts nothing, and the fully-successful landing is
    // still marked complete.
    var fetchAborted = false
    def stopNow(): Boolean = {
      if (!fetchAborted && shouldStop()) {
        fetchAborted = true
        Log.warning("[fetch] Shutdown observed — skipping the remaining " +
          "sources; this landing stays unmarked and the next tick " +
          "re-pulls what was skipped", "main")
      }
      fetchAborted
    }

    // paginated pulls: NVD (nvd_handler) and Red Hat Hydra
    // (redhat_handler.py:107-124 — identical totalResults envelope).
    // An update tick windows the pull to [stored stamp, now] (the
    // API's lastMod bounds are inclusive — a record modified exactly
    // at the boundary is re-fetched, never missed; the merge is
    // idempotent); day zero pulls everything. A span over the API's
    // range cap (NVD rejects lastMod windows over 120 days — a
    // dormant resume would wedge on the reference's unconditional
    // window) is CHUNKED into consecutive cap-sized windows, all
    // landed as one page set with disjoint page numbers — the resume
    // stays incremental. Beyond max_window_chunks caps (default 3,
    // ~a dormant year) it falls back to the full unwindowed pull:
    // each record re-fetches once per window it was modified in, so
    // for long dormancy the sum of window deltas outgrows the corpus
    // and init-style full is the cheaper correct plan. Zero results
    // across every window lands NOTHING (no empty pages dir — the
    // tick's merge skips the source entirely); WINDOWED pulls still
    // advance the stamp (the windows were consumed, there was just
    // nothing in them), an UNWINDOWED zero leaves it unset (see the
    // glitch guard below).
    // `freshness_granularity` deliberately does NOT apply here: the
    // paginated protocol has no upstream freshness probe to compare at
    // any granularity — the pull is an instant-based lastModStart/End
    // window derived from the stored stamp, and day-truncating those
    // instants would re-fetch up to a day of already-landed records per
    // tick (WatermarksSpec records the scope split)
    def paginated(section: String, sub: String): Unit =
      conf.get(section, "url").filter(_ => !stopNow()).foreach { base =>
        val policy = conf.fetchPolicy(section)
        val maxWindowMs = conf.getInt(section, "max_window_days", 120)
          .toLong * 24 * 3600 * 1000
        val maxChunks = conf.getInt(section, "max_window_chunks", 3)
        // None = unwindowed full pull; Some((s, e)) = one lastMod window
        val windows: Seq[Option[(Timestamp, Timestamp)]] =
          stored(section) match {
            case Some(f) if now.getTime - f.getTime <= maxWindowMs * maxChunks =>
              val n = ((now.getTime - f.getTime + maxWindowMs - 1) /
                maxWindowMs).toInt.max(1)
              (0 until n).map { i =>
                val s = new Timestamp(f.getTime + i * maxWindowMs)
                val e = if (i == n - 1) now
                        else new Timestamp(f.getTime + (i + 1) * maxWindowMs)
                Some((s, e))
              }
            case _ => Seq(None)
          }
        // the keyed tier's credential rides as a HEADER, spelled the
        // way each upstream expects it (nvd_handler.py:107 `apikey`;
        // redhat_handler.py:74 `apiKey`) — the rate POLICY already
        // picked the keyed tier off the same config key
        val headers = conf.get(section, "apikey").toSeq.map(k =>
          (if (section == "redhat") "apiKey" else "apikey") -> k)
        def transportFor(w: Option[(Timestamp, Timestamp)]) =
          Fetch.httpTransport(p =>
            s"$base?resultsPerPage=${policy.resultsPerPage}" +
              s"&startIndex=${p * policy.resultsPerPage}" +
              w.fold("") { case (s, e) =>
                s"&lastModStartDate=${encodeStamp(s)}" +
                  s"&lastModEndDate=${encodeStamp(e)}"
              },
            headers = headers)
        // probe each window's totalResults driver-side; the probe BODY
        // doubles as the window's landed page 0 (the distributed fetch
        // starts at page 1) — one request per window per tick saved
        // against a rate-limited upstream
        val probed = windows.map { w =>
          (w, Fetch.fetchWithRetry(transportFor(w), 0L, policy))
        }.map { case (w, p0) => (w, Fetch.parseTotalResults(p0.body), p0) }
          .filter(_._2 > 0L)
        if (probed.isEmpty) {
          if (windows.head.isDefined) {
            // windowed pulls may legitimately be empty — the windows
            // were consumed, there was just nothing in them — so the
            // stamp still advances and the next tick's window stays
            // bounded
            Log.info(s"[$section] Skipping update, no modifications since " +
              s"${stored(section).fold("day zero")(_.toString)}", "main")
            stamps += section -> now
          } else {
            // an UNWINDOWED pull (day zero / full-pull fallback) that
            // reports zero totalResults is an upstream glitch, not an
            // empty delta: a well-formed 200 with a bogus zero would
            // otherwise advance the stamp to `now` and every later
            // windowed tick would permanently skip the records
            // predating it. Land nothing, stamp nothing — the next
            // tick retries the full pull.
            Log.warning(s"[$section] Unwindowed pull returned zero " +
              "totalResults — landing nothing and leaving the watermark " +
              "unset (a glitchy zero must not orphan the corpus)", "main")
          }
        } else {
          import spark.implicits._
          val parts = conf.getInt(section, "fetch_partitions", 2)
          // window GROUPS of at most requestsPerWindow run as
          // SEQUENTIAL actions (later groups append to the landing,
          // page numbers already disjoint); within a group each
          // window's partitions build their own RateLimiter with the
          // budget floor-divided by the group size — so the cluster-
          // wide rate is parts × groupSize × (rpw / groupSize) ≤
          // parts × requestsPerWindow, the configured ceiling, for ANY
          // number of chunks a dormant resume produced (the min-1
          // floor can no longer exceed it: groupSize ≤ rpw)
          val groups = probed.grouped(policy.requestsPerWindow.max(1)).toSeq
          var offset = 0L
          var landed = 0L
          var aborted = false
          groups.zipWithIndex.foreach { case (grp, gi) =>
            if (!aborted) {
              // each group's action builds FRESH per-partition
              // RateLimiters, so without a gap the last windowMs of group
              // N's budget and group N+1's first could land inside one
              // sliding window — transiently ~2× the ceiling (ADVICE
              // r15). One full windowMs pause at each boundary drains the
              // previous group's window before the next group spends.
              // The pause cannot be shortened by the previous group's own
              // wall time: its limiter spreads requests across the WHOLE
              // action and the per-request arrival times live on the
              // executors, so the last request may have fired at the
              // action's very end (ADVICE r16 adjudication). It IS
              // interruptible: sliced sleeps check the stop flag, and a
              // shutdown abandons the remaining groups — the watermark is
              // then left unset, so the next tick re-pulls every window
              // (the merge is idempotent) instead of blocking shutdown up
              // to a full public-tier window per boundary.
              if (gi > 0) {
                val deadline = System.nanoTime() + policy.windowMs * 1000000L
                // the stop observed INSIDE the loop is LATCHED (ADVICE
                // r17): the pause exit and the abort decision must share
                // one observation — re-reading the flag afterwards would
                // let a non-monotone shouldStop (flicker true→false)
                // truncate the rate-limit drain yet still run the next
                // group past the window ceiling the pause protects
                var stopped = shouldStop()
                while (System.nanoTime() < deadline && !stopped) {
                  Thread.sleep(math.max(1L, math.min(100L,
                    (deadline - System.nanoTime()) / 1000000L)))
                  stopped = shouldStop()
                }
                if (stopped) {
                  if (!fetchAborted) {
                    fetchAborted = true
                    Log.warning("[fetch] Shutdown observed — skipping the " +
                      "remaining sources; this landing stays unmarked and " +
                      "the next tick re-pulls what was skipped", "main")
                  }
                  aborted = true
                }
              }
            }
            if (!aborted) {
              val chunkPolicy = policy.copy(requestsPerWindow =
                (policy.requestsPerWindow / grp.size).max(1))
              val pages = grp.map { case (w, total, p0) =>
                val off = offset
                offset += Fetch.numPages(total, policy.resultsPerPage)
                val head = spark.createDataset(Seq(p0.copy(page = off)))
                val rest = Fetch.fetchPages(spark, total, chunkPolicy, parts,
                  transportFor(w), fromPage = 1L)
                head union (if (off == 0L) rest
                            else rest.map(p => p.copy(page = p.page + off)))
              }.reduce(_ union _)
              landed += Landing.landPages(pages, s"$dir/$sub", wipe = gi == 0)
            }
          }
          if (aborted)
            Log.warning(s"[$section] Shutdown during a multi-group pull — " +
              s"landed $landed pages before stopping; watermark left " +
              "unset so the next tick re-pulls every window", "main")
          else {
            val totals = probed.map(_._2).sum
            Log.info(s"[$section] Landed $landed pages ($totals results, " +
              s"${probed.size} window(s)) into $dir/$sub", "main")
            stamps += section -> now
          }
        }
      }
    paginated("nvd", "nvd_pages")
    paginated("redhat", "redhat_pages")

    SingleFileSources.foreach { case (section, name) =>
      conf.get(section, "url").filter(_ => !stopNow()).foreach { url =>
        def fetchOne(): Unit = {
          val policy = conf.fetchPolicy(section)
          val upstream =
            if (statusPath.nonEmpty) probeStamp(conf, section, url, policy)
            else None
          val s = stored(section)
          // freshness_granularity = day: the reference's `.date()`
          // compare (a same-day re-release is skipped); default stays
          // the stricter full-instant compare
          val dayGranularity =
            conf.get(section, "freshness_granularity").contains("day")
          if (upstream.exists(up =>
            if (dayGranularity) graft.operators.Watermarks.isFreshDay(s, up)
            else graft.operators.Watermarks.isFresh(s, up))) {
            Log.info(s"[$section] Skipping update, source_last_update: " +
              s"${s.get}", "main")
          } else {
            val dest = JPaths.get(dir, name)
            val size = Fetch.downloadFileWithRetry(url, policy, dest)
            if (name.endsWith(".zip")) {
              val member = Landing.extractSingleMemberZip(dest.toString, dir)
              val canonical = JPaths.get(dir, name.stripSuffix(".zip"))
              if (JPaths.get(member) != canonical)
                Files.move(JPaths.get(member), canonical,
                  java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            }
            upstream.foreach(up => stamps += section -> up)
            Log.info(s"[$section] Landed $name ($size bytes) into $dir", "main")
          }
        }
        if (section == "epss")
          // EPSS is the one source whose reference handler self-guards
          // its whole update path (epss_handler.py:167-169: log the
          // error, keep the job alive) — every other handler propagates
          // and kills the run, and so do we. No landing and no stamp on
          // failure: the merge skips the source and the NEXT tick
          // retries it against a fresh landing dir.
          try fetchOne()
          catch {
            case scala.util.control.NonFatal(e) =>
              Log.error("[epss] An error occurred during the EPSS " +
                s"update process: ${e.getMessage}", "main")
          }
        else fetchOne()
      }
    }

    if (!stopNow())
      fetchCveOrg(spark, conf, dir, stored("cveorg")).foreach(up =>
        stamps += "cveorg" -> up)

    if (stamps.nonEmpty) {
      val lines = stamps.toSeq.sortBy(_._1)
        .map { case (s, t) => s"$s=${t.getTime}" }.mkString("", "\n", "\n")
      Files.write(JPaths.get(dir, StampsFile),
        lines.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // an ABORTED fetch must NOT mark the landing complete: the marker
    // short-circuits re-runs, and an aborted pull landed only a prefix
    // of its sources/windows — leaving it off makes the re-run re-fetch
    // from scratch (landPages wipes per landing). Keyed on the latched
    // abort, NOT the live flag: a stop that arrives after every source
    // already landed and stamped aborts nothing, and re-fetching a
    // 100%-complete landing would be waste, not safety.
    if (!fetchAborted) { Files.createFile(marker); () }
  }

  /** The cve.org fetch (cveorg_handler.py): land the delta log, then
    * either (day zero / watermark older than the log's coverage) full-
    * clone the configured cvelistV5 archive — `init()`'s zip download,
    * cveorg_handler.py:107-118 — or fan the watermark-windowed entry
    * set's per-CVE links out through the DISTRIBUTED key-addressed
    * fetch (the reference's ThreadPoolExecutor loop,
    * cveorg_handler.py:164-183, as a rate-limited Spark job). Returns
    * the stamp the landing is current through (max consumed
    * fetchTime); None when nothing new landed. */
  def fetchCveOrg(spark: SparkSession, conf: Config.Conf, dir: String,
                  stored: Option[Timestamp]): Option[Timestamp] =
    conf.get("cveorg", "url_updates").map { logUrl =>
      import graft.sources.{Fetch, Landing, Readers}
      val policy = conf.fetchPolicy("cveorg")
      val logPath = JPaths.get(dir, "cveorg_deltaLog.json")
      Fetch.downloadFileWithRetry(logUrl, policy, logPath)
      // the fan-out's SSRF guard: the delta log is DOWNLOADED content,
      // so its per-CVE links are only trusted as far as the section's
      // allowed_url_prefixes. Off-allowlist entries are dropped LOUDLY
      // and deliberately stay dropped (the stamp still consumes them):
      // a link pointing into private address space is an attack to
      // refuse, not a record to retry.
      def allowlisted(items: Seq[(String, String)]): Seq[(String, String)] = {
        val (ok, bad) = items.partition { case (_, u) =>
          conf.urlAllowed("cveorg", u) }
        if (bad.nonEmpty)
          Log.warning(s"[cveorg] dropping ${bad.size} delta entries with " +
            s"off-allowlist links (first: ${bad.head._2}) — the delta log " +
            "is fetched content; only allowed_url_prefixes may be fetched",
            "main")
        ok
      }
      val log = Readers.deltaLog(spark, logPath.toString)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // a log that parses to ZERO rows — an empty array, or a
        // 200-status error page that mismatches the declared schema —
        // must degrade to a loud skip, never an NPE: every other
        // source treats a malformed body as "skip this tick, retry
        // next" and this one is no different
        val coveredFrom = Option(Readers.deltaLogMinFetch(log))
        val maxFetch = Option(log
          .agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.col("fetchTime")))
          .head().getTimestamp(0))
        if (coveredFrom.isEmpty || maxFetch.isEmpty) {
          Log.warning("[cveorg] Delta log parsed to zero entries " +
            "(malformed or empty upstream) — skipping the source this " +
            "tick", "main")
          None
        } else stored match {
          case Some(wm) if !wm.before(coveredFrom.get) =>
            // incremental: entries newer than the watermark, each CVE's
            // json pulled through the distributed keyed fetch. The
            // collect is delta-sized control plane — the reference
            // collects the same github_links list.
            val entries = Readers.deltaCves(log, wm)
              .select("cveId", "githubLink", "fetchTime").collect()
            if (entries.isEmpty) {
              Log.info("[cveorg] Skipping update, no delta entries newer " +
                s"than $wm", "main")
              None
            } else {
              val items = allowlisted(
                entries.toSeq.map(r => (r.getString(0), r.getString(1))))
              if (items.nonEmpty) {
                val landed = Landing.landKeyed(
                  Fetch.fetchKeyed(spark, items, policy,
                    numPartitions = conf.getInt("cveorg", "fetch_partitions", 2),
                    Fetch.httpUrlTransport()),
                  s"$dir/cveorg")
                Log.info(s"[cveorg] Landed $landed delta CVE records into " +
                  s"$dir/cveorg", "main")
              }
              // the stamp consumes every entry — including deliberately
              // refused off-allowlist ones (see allowlisted)
              Some(entries.map(_.getTimestamp(2)).max)
            }
          case _ =>
            // day zero (or fell behind the log's retention): full clone
            // of the archive when configured (init's zip path); without
            // an archive url, fan out everything the log still covers
            conf.get("cveorg", "url") match {
              case Some(zipUrl) =>
                val zipDest = JPaths.get(dir, "cveorg_all.zip")
                Fetch.downloadFileWithRetry(zipUrl, policy, zipDest)
                // batched landing: ONE streaming repack pass on the
                // driver (no per-member FS creates, no JSON parsing —
                // the ~500k records parse distributed in the reader's
                // from_json scan), vs the reference's file-per-member
                // extraction loop (cveorg_handler.py:107-118)
                val n = Landing.extractZipBatched(zipDest.toString,
                  s"$dir/cveorg")
                Log.info(s"[cveorg] Landed full clone ($n members, " +
                  "batched) into " + s"$dir/cveorg", "main")
              case None =>
                val items = allowlisted(
                  Readers.deltaCves(log, new Timestamp(0L))
                    .select("cveId", "githubLink").collect().toSeq
                    .map(r => (r.getString(0), r.getString(1))))
                val landed = Landing.landKeyed(
                  Fetch.fetchKeyed(spark, items, policy,
                    numPartitions = conf.getInt("cveorg", "fetch_partitions", 2),
                    Fetch.httpUrlTransport()),
                  s"$dir/cveorg")
                Log.warning(s"[cveorg] No archive url configured for the " +
                  s"init pull — landed the $landed records the delta log " +
                  "still covers", "main")
            }
            // day-zero coverage stamp = the log's max fetchTime (from
            // the already-persisted frame, not a re-parse). Known bound,
            // shared with the reference (which stamps its RUN time,
            // cveorg_handler.py:84/190 update_status — looser still):
            // records modified between the ARCHIVE's build and this
            // stamp are not re-fetched until touched again upstream.
            // The zip carries no build stamp to close it with, and
            // stamping the log's min instead would age out of the
            // moving retention window and re-init every tick.
            maxFetch
        }
      } finally { log.unpersist(); () }
    }.flatten

  /** Probe a landed tick directory for the upstreams' canonical
    * filenames. EPSS may land gzipped (the upstream ships .csv.gz,
    * epss_handler.py:21); first match wins. NVD and Red Hat may also
    * be landed PAGES directories — what [[fetchLanding]] writes. */
  def landingFrom(dir: String): Landing = {
    def f(names: String*): Option[String] =
      names.map(n => JPaths.get(dir, n))
        .find(Files.exists(_)).map(_.toString)
    Landing(
      nvd = f("nvd_page.json", "nvd.json")
        .orElse(f("nvd_pages").filter(p => Files.isDirectory(JPaths.get(p)))),
      epss = f("epss_scores.csv.gz", "epss_scores.csv"),
      exploitDb = f("files_exploits.csv"),
      kev = f("known_exploited_vulnerabilities.json"),
      metasploit = f("modules_metadata_base.json"),
      debian = f("debian.json"),
      cveOrgDir = f("cveorg").filter(p => Files.isDirectory(JPaths.get(p))),
      redhat = f("redhat_page.json", "redhat.json")
        .orElse(f("redhat_pages").filter(p => Files.isDirectory(JPaths.get(p)))),
      stamps = stampsFrom(dir))
  }

  /** Read the [[StampsFile]] sidecar back (absent = no stamps). Lines
    * that do not parse are dropped rather than failing the tick — a
    * malformed stamp only costs one skipped freshness advance. */
  def stampsFrom(dir: String): Map[String, Timestamp] = {
    val p = JPaths.get(dir, StampsFile)
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.flatMap { line =>
        line.split("=", 2) match {
          case Array(s, ms) if s.nonEmpty =>
            ms.trim.toLongOption.map(m => s -> new Timestamp(m))
          case _ => None
        }
      }.toMap
  }

  /** The tick's document delta: `documents.parquet` under the landed
    * dir, or an empty (zero-row, correct-schema) delta when none landed
    * — a CVE-only day still merges and commits. */
  def docsDeltaFrom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = JPaths.get(dir, "documents.parquet")
    if (Files.exists(p)) spark.read.parquet(p.toString).select("doc_id", "text")
    else Seq.empty[(Long, String)].toDF("doc_id", "text")
  }

  /** The tick's removal sets: `removals.parquet` (doc_id) deletes
    * documents, `vec_removals.parquet` (vec_id) deletes embeddings —
    * both propagate as tombstones through every persisted store
    * (DailyLoop's delete lifecycle). Absent file = nothing removed. */
  def removalsFrom(spark: SparkSession, dir: String,
                   file: String, idCol: String): Option[DataFrame] = {
    val p = JPaths.get(dir, file)
    if (Files.exists(p)) Some(spark.read.parquet(p.toString).select(idCol))
    else None
  }

  /** The tick's embedding delta (`embeddings.parquet`), None when none
    * landed — unlike docs, an ABSENT delta must skip the ANN step
    * entirely (a zero-row day-zero build would train an empty, useless
    * codebook). `label` rides along when present: it is what lets the
    * tick also maintain the IVF posting store (DailyLoop step 2c). */
  def embDeltaFrom(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = JPaths.get(dir, "embeddings.parquet")
    if (Files.exists(p)) {
      val df = spark.read.parquet(p.toString)
      val cols = Seq("vec_id", "embedding") ++
        (if (df.columns.contains("label")) Seq("label") else Nil)
      Some(df.select(cols.map(org.apache.spark.sql.functions.col): _*))
    } else None
  }

  private val Banner =
    """   ____ ____      _    _____ _____
      |  / ___|  _ \    / \  |  ___|_   _|
      | | |  _| |_) |  / _ \ | |_    | |
      | | |_| |  _ <  / ___ \|  _|   | |
      |  \____|_| \_\/_/   \_\_|     |_|   v0.1
      |""".stripMargin

  /** The scheduler run, factored for the spec: probes the marker clock,
    * logs the reference's scheduler lines, and drives DailyLoop.loop
    * until `stop` flips (or one tick in `once` mode). Returns ticks
    * run. */
  def run(spark: SparkSession, conf: Config.Conf, root: String,
          once: Boolean, stop: AtomicBoolean,
          clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
          sleepMs: Long = 1000L, fetch: Boolean = false): Int = {
    val p = DailyLoop.Paths(root)
    val intervalHours = conf.schedulerIntervalHours(default = 24)
    val threshold = conf.get("dedup", "threshold").map(_.toDouble).getOrElse(0.8)
    val maxChain = conf.getInt("dedup", "max_chain", Int.MaxValue)
    val annMaxChain = conf.getInt("dedup", "ann_max_chain", Int.MaxValue)
    val pairRebuildEvery = conf.getInt("dedup", "pair_rebuild_every", 0)
    val annRefreshEvery = conf.getInt("dedup", "ann_refresh_every", 0)
    // bounds the refresh retrain's Lloyd passes to a deterministic hash
    // sample of the live vector store (0 = train on the full store;
    // -1 = AnnIndex.AutoTrainSampleMax, the cap scaled with the
    // codebook as max(10k, numCodes·100) — the r20-measured floor
    // below which sampling costs recall)
    val trainSampleMax = conf.getLong("dedup", "train_sample_max", 0L)
    // one tick over the seq's landing dir — the --once run and the loop
    // share it
    def tick(seq: Long, now: Timestamp, leaseCheck: () => Unit): Unit = {
      val dir = s"$root/landing/$seq"
      // the tick's OWN stamp windows an in-process fetch to (stored, now]
      if (fetch) fetchLanding(spark, conf, dir, statusPath = Some(p.status),
        now = now, shouldStop = () => stop.get())
      DailyLoop.runTick(spark, landingFrom(dir), docsDeltaFrom(spark, dir), p, now,
        threshold, maxChain, embDelta = embDeltaFrom(spark, dir),
        annMaxChain = annMaxChain,
        docRemovals = removalsFrom(spark, dir, "removals.parquet", "doc_id"),
        vecRemovals = removalsFrom(spark, dir, "vec_removals.parquet", "vec_id"),
        pairRebuildEvery = pairRebuildEvery,
        annRefreshEvery = annRefreshEvery,
        trainSampleMax = trainSampleMax,
        leaseCheck = leaseCheck)
    }

    if (once) {
      Log.info("[Job] Starting", "main")
      val t0 = System.nanoTime()
      // --once is still a WRITER: it takes the same single-writer lease
      // as the loop (with a heartbeat through the tick), so a one-shot
      // run can neither interleave with a running loop nor with a
      // second concurrent --once against the same root
      DailyLoop.withLease(spark, p, "once:") { hb =>
        tick(DailyLoop.committedTick(spark, p)._1 + 1, clock(), () => hb.check())
        // surface a loss the heartbeat observed during the tick's last
        // step loudly, even though the tick itself is already done
        hb.check()
      }
      Log.success(f"[Job] Finished in ${(System.nanoTime() - t0) / 1e9}%.2f seconds.", "main")
      1
    } else {
      val (_, last) = DailyLoop.committedTick(spark, p)
      val delay = initialDelayMs(last, intervalHours, clock())
      if (delay > 0)
        Log.info(s"[Scheduler] Initial job to run in ${formatDelay(delay)}.", "main")
      // whole hours log as "24h", fractional as-is ("0.5h") — the float
      // scheduler semantics of main.py:210
      val ih = if (intervalHours == intervalHours.toLong.toDouble)
        intervalHours.toLong.toString else intervalHours.toString
      Log.info(s"[Scheduler] Update frequency: every ${ih}h", "main")
      val ticks = DailyLoop.loop(spark, p, intervalHours,
        shouldStop = () => stop.get(), clock = clock, sleepMs = sleepMs)(tick)
      Log.info("[Scheduler] Shutdown event detected. Exiting scheduler loop.", "main")
      ticks
    }
  }

  def main(argv: Array[String]): Unit = {
    parseArgs(argv.toSeq) match {
      case Left(err) =>
        Console.err.println(s"error: $err"); Console.err.println(usage)
        sys.exit(2)
      case Right(a) if a.help =>
        println(usage)
      case Right(a) =>
        println(Banner)
        Log.setMaxLevel(if (a.debug) "DEBUG" else "INFO")
        val conf =
          if (Files.exists(JPaths.get(a.config)))
            Config.parse(new String(Files.readAllBytes(JPaths.get(a.config))))
          else {
            Log.warning(s"config ${a.config} not found; using defaults", "main")
            Config.parse("")
          }
        val stop = new AtomicBoolean(false)
        val drained = new java.util.concurrent.CountDownLatch(1)
        // handle_shutdown analog: SIGINT/SIGTERM run JVM shutdown hooks.
        // Setting the flag alone would NOT finish the in-flight tick —
        // the JVM halts every thread the moment its hooks return — so
        // the hook also BLOCKS on the drain latch until the loop exits
        // cooperatively (tick commit marker included), mirroring the
        // reference's scheduler-thread join-on-event shutdown.
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          Log.info("Shutdown signal received. Initiating graceful shutdown...", "main")
          stop.set(true)
          drained.await()
        }))
        val spark = GraftSession.build()
        try run(spark, conf, a.root, a.once, stop, fetch = a.fetch)
        finally {
          spark.stop()
          drained.countDown() // releases the hook: safe to halt now
        }
    }
  }
}
