package perfbench

import java.io.{ByteArrayOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

/** Seeded generator of per-tick CVE landing directories in the reference
  * wire formats (NVD API 2.0 pages of 2000 records, EPSS CSV.gz with its
  * metadata line, CISA KEV, Exploit-DB CSV, Metasploit module map, Debian
  * tracker map), laid out the way `graft.Main.landingFrom` probes them.
  *
  * Tick 0 is the full day-zero landing. Every later tick lands an NVD
  * modified-window delta (a fraction of a percent of the ids, some new);
  * the first of every `FullEvery` ticks (1, 5, 9, …) also lands the full
  * EPSS, KEV and Exploit-DB files — a few ticks a day against feeds
  * published daily (the reference ticks every 6 h). The full tick leads
  * each cycle, so a run's first tick, slowed by a cold JVM, is also its
  * heaviest, and the tick median falls on warm delta ticks.
  *
  * The generator keeps the state the snapshot must converge to, so it can
  * state the expected row count and priority histogram itself: per id the
  * latest landed CVSS base score (v3.1 → v3.0 → v2 ladder), the latest
  * complete EPSS score, and KEV membership. Scores are integers (tenths of
  * CVSS, 1e-5 of EPSS) written with a fixed number of decimals, so the
  * ladder thresholds compare exactly on both sides.
  *
  * Fixture edge rows ride along at fixed rates: an NVD record without an
  * id on every page, v2-only / v3.0-only / metric-less records, EPSS rows
  * with an empty score, multi-CVE and non-CVE Exploit-DB code cells, and
  * Metasploit modules with non-CVE or no references.
  *
  * Output depends only on (seed, tick): the same seed gives byte-identical
  * directories. */
final class CveFeedGen(seed: Long, initialIds: Int) {
  import CveFeedGen._

  private val cvssVer = ArrayBuffer.empty[Int]   // 31, 30, 2 or 0 (no metrics)
  private val cvss = ArrayBuffer.empty[Int]      // base score in tenths
  private val epss = ArrayBuffer.empty[Int]      // 1e-5 units, -1 = none landed
  private val kev = ArrayBuffer.empty[Boolean]
  private val exploits = ArrayBuffer.empty[String] // Exploit-DB `codes` cells
  private var ticksGenerated = 0

  def numIds: Int = cvss.length

  private def rng(tick: Int, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + tick * 1000003L + salt)

  /** Priority the reference's ladder assigns to id `i` (1 = most urgent). */
  def priorityOf(i: Int): Int = {
    val cv = if (cvssVer(i) == 0) 0 else cvss(i)
    val e = math.max(epss(i), 0)
    if (kev(i)) 1
    else if (cv >= CvssThresholdTenths && e >= EpssThresholdUnits) 1
    else if (cv >= CvssThresholdTenths) 2
    else if (e >= EpssThresholdUnits) 3
    else 4
  }

  /** Expected row count per priority 1..4 of the snapshot after every tick
    * generated so far has been merged. */
  def expectedHistogram: Map[Int, Long] =
    (0 until numIds).groupBy(priorityOf).map { case (p, is) => p -> is.size.toLong }

  /** Ids at priority ≤ 2 — what the consumer read returns. */
  def expectedUrgent: Long = (0 until numIds).count(priorityOf(_) <= 2).toLong

  /** Write tick `tick`'s landing directory. Ticks must be generated in
    * order, starting at 0. Returns the number of bytes written. */
  def writeTick(tick: Int, dir: Path): Long = {
    require(tick == ticksGenerated, s"ticks are generated in order: want $ticksGenerated, got $tick")
    ticksGenerated += 1
    Files.createDirectories(dir)
    var bytes = 0L
    def put(name: String, data: Array[Byte]): Unit = {
      Files.write(dir.resolve(name), data); bytes += data.length
    }
    val r = rng(tick, 1)
    val nvdIds: Seq[Int] =
      if (tick == 0) { (0 until initialIds).foreach(_ => newId()); 0 until initialIds }
      else {
        val n = numIds
        val changed = math.max(1, (n * ModifiedShare).toInt)
        val fresh = math.max(1, (n * NewShare).toInt)
        val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (picked.size < changed) picked += r.nextInt(n)
        picked.toSeq ++ (0 until fresh).map(_ => newId())
      }
    nvdIds.foreach(i => drawCvss(r, i))
    val pages = nvdIds.grouped(NvdPageSize).toSeq
    Files.createDirectories(dir.resolve("nvd_pages"))
    pages.zipWithIndex.foreach { case (ids, pi) =>
      put(f"nvd_pages/page-$pi%05d.json", nvdPage(ids, pi * NvdPageSize, nvdIds.size, r, tick))
    }
    if (tick == 0 || tick % FullEvery == 1) {
      put("epss_scores.csv.gz", epssFile(tick))
      put("known_exploited_vulnerabilities.json", kevFile(tick))
      put("files_exploits.csv", exploitFile(tick))
    }
    if (tick == 0) {
      put("modules_metadata_base.json", metasploitFile())
      put("debian.json", debianFile())
    }
    put("_STAMPS", s"nvd=${stampMillis(tick)}\n".getBytes(UTF_8))
    bytes
  }

  private def newId(): Int = {
    cvssVer += 0; cvss += 0; epss += -1; kev += false
    cvss.length - 1
  }

  private def drawCvss(r: SplittableRandom, i: Int): Unit = {
    val u = r.nextInt(100)
    cvssVer(i) = if (u < 70) 31 else if (u < 80) 30 else if (u < 95) 2 else 0
    cvss(i) = 10 + r.nextInt(91)
  }

  private def nvdPage(ids: Seq[Int], start: Int, total: Int, r: SplittableRandom,
                      tick: Int): Array[Byte] = {
    val sb = new StringBuilder(ids.size * 420)
    sb.append(s"""{"resultsPerPage":$NvdPageSize,"startIndex":$start,"totalResults":$total,""")
    sb.append(s""""format":"NVD_CVE","version":"2.0","timestamp":"${isoDay(tick)}T00:00:00.000","vulnerabilities":[""")
    var first = true
    def sep(): Unit = { if (!first) sb.append(','); first = false }
    ids.zipWithIndex.foreach { case (i, k) =>
      if (k == ids.size / 2) { // the fixture's missing-id record: skipped by the reader
        sep()
        sb.append(s"""{"cve":{"sourceIdentifier":"cve@mitre.org","published":"${isoDay(tick)}T00:00:00.000","vulnStatus":"Rejected","descriptions":[{"lang":"en","value":"record without an id"}],"metrics":{}}}""")
      }
      sep()
      val metric = cvssVer(i) match {
        case 0 => "{}"
        case v =>
          val key = if (v == 31) "cvssMetricV31" else if (v == 30) "cvssMetricV30" else "cvssMetricV2"
          val vs = if (v == 2) "AV:N/AC:L/Au:N/C:P/I:P/A:P" else s"CVSS:${if (v == 31) "3.1" else "3.0"}/AV:N/AC:L/PR:N/UI:N/S:U/C:H/I:H/A:H"
          s"""{"$key":[{"source":"nvd@nist.gov","type":"Primary","cvssData":{"version":"${v / 10}.${v % 10}","vectorString":"$vs","baseScore":${tenths(cvss(i))},"baseSeverity":"${severity(cvss(i))}"}}]}"""
      }
      sb.append(s"""{"cve":{"id":"${idOf(i)}","sourceIdentifier":"cve@mitre.org","published":"${isoDay(0)}T00:00:00.000","lastModified":"${isoDay(tick)}T0${r.nextInt(10)}:00:00.000","vulnStatus":"Analyzed",""")
      sb.append(s""""descriptions":[{"lang":"en","value":"${Words(r.nextInt(Words.length))} issue in component ${i % 997} allows ${Words(r.nextInt(Words.length))} via crafted input."}],""")
      sb.append(s""""metrics":$metric,"references":[{"url":"https://example.org/advisory/${idOf(i)}","source":"cve@mitre.org"}]}}""")
    }
    sb.append("]}")
    sb.toString.getBytes(UTF_8)
  }

  private def epssFile(tick: Int): Array[Byte] = {
    val r = rng(tick, 2)
    val sb = new StringBuilder(numIds * 32)
    sb.append(s"#model_version:v2023.03.01,score_date:${isoDay(tick)}T00:00:00Z\n")
    sb.append("cve,epss,percentile\n")
    (0 until numIds).foreach { i =>
      val score = if (epss(i) < 0 || r.nextInt(10) == 0) drawEpss(r) else epss(i)
      val pct = f"0.${r.nextInt(100000)}%05d"
      // an incomplete row is dropped by the reader: the old score survives
      if (r.nextInt(IncompleteEpssEvery) == 0) sb.append(s"${idOf(i)},,$pct\n")
      else { epss(i) = score; sb.append(s"${idOf(i)},${fiveDp(score)},$pct\n") }
    }
    val out = new ByteArrayOutputStream()
    val gz = new OutputStreamWriter(new GZIPOutputStream(out), UTF_8)
    gz.write(sb.toString); gz.close()
    out.toByteArray
  }

  private def drawEpss(r: SplittableRandom): Int = {
    // heavy-tailed like the real feed: most scores are tiny, ~10% ≥ 0.2
    val u = r.nextDouble()
    if (u < 0.1) 20000 + r.nextInt(80001) else r.nextInt(20000)
  }

  private def kevFile(tick: Int): Array[Byte] = {
    val r = rng(tick, 3)
    val target = math.max(1, (numIds * KevShare).toInt)
    var have = kev.count(identity)
    while (have < target) { val i = r.nextInt(numIds); if (!kev(i)) { kev(i) = true; have += 1 } }
    val sb = new StringBuilder(have * 300)
    sb.append(s"""{"title":"CISA Catalog of Known Exploited Vulnerabilities","catalogVersion":"${isoDay(tick).replace("-", ".")}","dateReleased":"${isoDay(tick)}T14:01:05.179Z","count":$have,"vulnerabilities":[""")
    var first = true
    (0 until numIds).filter(kev(_)).foreach { i =>
      if (!first) sb.append(','); first = false
      sb.append(s"""{"cveID":"${idOf(i)}","vendorProject":"vendor${i % 211}","product":"product${i % 97}","vulnerabilityName":"Example vulnerability","dateAdded":"${isoDay(0)}","shortDescription":"Example.","requiredAction":"Apply updates.","dueDate":"${isoDay(tick)}","knownRansomwareCampaignUse":"${if (i % 5 == 0) "Known" else "Unknown"}"}""")
    }
    sb.append("]}")
    sb.toString.getBytes(UTF_8)
  }

  private def exploitFile(tick: Int): Array[Byte] = {
    val r = rng(tick, 4)
    val target = math.max(1, (numIds * ExploitShare).toInt)
    while (exploits.length < target) {
      val a = idOf(r.nextInt(numIds))
      exploits += (r.nextInt(20) match {
        case 0 => s"$a;${idOf(r.nextInt(numIds))}"   // multi-CVE cell
        case 1 => s"OSVDB-${r.nextInt(100000)};$a"  // non-CVE code
        case 2 => ""                                 // no codes
        case _ => a
      })
    }
    val sb = new StringBuilder(exploits.length * 160)
    sb.append("id,file,description,date_published,author,type,platform,port,date_added,date_updated,verified,codes,tags,aliases,screenshot_url,application_url,source_url\n")
    exploits.zipWithIndex.foreach { case (codes, k) =>
      sb.append(s"${10000 + k},exploits/linux/remote/${10000 + k}.py,Example exploit ${k % 1000},${isoDay(0)},author${k % 53},remote,linux,,${isoDay(0)},${isoDay(tick)},1,$codes,,,,,\n")
    }
    sb.toString.getBytes(UTF_8)
  }

  private def metasploitFile(): Array[Byte] = {
    val r = rng(0, 5)
    val n = math.max(1, (numIds * MetasploitShare).toInt)
    val sb = new StringBuilder(n * 300)
    sb.append('{')
    (0 until n).foreach { k =>
      if (k > 0) sb.append(',')
      val refs = r.nextInt(10) match {
        case 0 => None // module without references
        case 1 => Some(s""""URL-https://example.org/$k","EDB-${r.nextInt(50000)}"""")
        case _ => Some(s""""${idOf(r.nextInt(numIds))}","URL-https://example.org/$k"""")
      }
      sb.append(s""""exploit/multi/http/module_$k":{"name":"Example module $k","fullname":"exploit/multi/http/module_$k","rank":${100 * (1 + k % 6)},"disclosure_date":"${isoDay(0)}","type":"exploit","description":"Example."""")
      refs.foreach(rs => sb.append(s""","references":[$rs]"""))
      sb.append('}')
    }
    sb.append('}')
    sb.toString.getBytes(UTF_8)
  }

  private def debianFile(): Array[Byte] = {
    val r = rng(0, 6)
    val n = math.max(1, (numIds * DebianShare).toInt)
    val byPkg = (0 until n).map(_ => (s"pkg${r.nextInt(400)}", r.nextInt(numIds)))
      .groupBy(_._1).toSeq.sortBy(_._1)
    val sb = new StringBuilder(n * 160)
    sb.append('{')
    byPkg.zipWithIndex.foreach { case ((pkg, rows), k) =>
      if (k > 0) sb.append(',')
      sb.append(s""""$pkg":{""")
      rows.map(_._2).distinct.sorted.zipWithIndex.foreach { case (i, j) =>
        if (j > 0) sb.append(',')
        sb.append(s""""${idOf(i)}":{"description":"Example issue","scope":"remote","debianbug":${100000 + i},"releases":{"bookworm":{"status":"resolved","urgency":"medium","fixed_version":"1.${i % 9}"}}}""")
      }
      sb.append('}')
    }
    sb.append('}')
    sb.toString.getBytes(UTF_8)
  }
}

object CveFeedGen {
  val FullEvery = 4
  val NvdPageSize = 2000
  val ModifiedShare = 0.004
  val NewShare = 0.001
  val KevShare = 0.005
  val ExploitShare = 0.05
  val MetasploitShare = 0.02
  val DebianShare = 0.1
  val IncompleteEpssEvery = 500
  /** The ladder thresholds of graft.operators.Prioritizer (6.0 / 0.2) in
    * the generator's integer units. */
  val CvssThresholdTenths = 60
  val EpssThresholdUnits = 20000

  private val Words = Array("buffer overflow", "use-after-free", "SQL injection",
    "cross-site scripting", "path traversal", "privilege escalation",
    "denial of service", "remote code execution", "information disclosure")

  /** Ids are unique and stable: year from the low digits, number from the rest. */
  def idOf(i: Int): String = f"CVE-${2016 + i % 9}-${10000 + i / 9}%05d"

  private def tenths(v: Int): String = s"${v / 10}.${v % 10}"
  private def fiveDp(v: Int): String = f"${v / 100000}.${v % 100000}%05d"
  private def severity(v: Int): String =
    if (v >= 90) "CRITICAL" else if (v >= 70) "HIGH" else if (v >= 40) "MEDIUM" else "LOW"

  /** Tick t is 6 h after tick t-1, from a fixed epoch. */
  def stampMillis(tick: Int): Long = 1735689600000L + tick * 6L * 3600 * 1000
  def isoDay(tick: Int): String =
    java.time.Instant.ofEpochMilli(stampMillis(tick)).toString.substring(0, 10)
}
