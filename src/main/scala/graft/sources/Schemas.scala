package graft.sources

import org.apache.spark.sql.types._

/** Declared StructTypes for every reference input format (FIXTURES.md),
  * restricted to the fields the reference reads plus permissive tails.
  * Declaring schemas up front keeps `spark.read.json/csv` single-pass
  * (no sampling scan) — mandatory at ingest scale.
  */
object Schemas {

  /** One CVSS metric entry: metrics.cvssMetricV31[].cvssData.baseScore
    * (handlers/prioritizer_handler.py:31-36). */
  private val cvssMetric = ArrayType(StructType(Seq(
    StructField("cvssData", StructType(Seq(
      StructField("baseScore", DoubleType),
      StructField("baseSeverity", StringType),
      StructField("vectorString", StringType)))),
    StructField("type", StringType))))

  /** NVD CVE API 2.0 page envelope (datasources/nvd_handler copy.py:127,
    * 154-156; per-record projection nvd_handler.py:73-77). */
  val nvdPage: StructType = StructType(Seq(
    StructField("resultsPerPage", LongType),
    StructField("startIndex", LongType),
    StructField("totalResults", LongType),
    StructField("vulnerabilities", ArrayType(StructType(Seq(
      StructField("cve", StructType(Seq(
        StructField("id", StringType),
        StructField("published", StringType),
        StructField("lastModified", StringType),
        StructField("vulnStatus", StringType),
        StructField("descriptions", ArrayType(StructType(Seq(
          StructField("lang", StringType),
          StructField("value", StringType))))),
        StructField("metrics", StructType(Seq(
          StructField("cvssMetricV31", cvssMetric),
          StructField("cvssMetricV30", cvssMetric),
          StructField("cvssMetricV2", cvssMetric)))))))))))))

  /** EPSS CSV body: strings at wire level (datasources/epss_handler.py:145-151);
    * cast to double at ingest (SURVEY.md quirk #8 — we implement intent). */
  val epssCsv: StructType = StructType(Seq(
    StructField("cve", StringType),
    StructField("epss", StringType),
    StructField("percentile", StringType)))

  /** Exploit-DB files_exploits.csv columns the reference touches
    * (datasources/exploitdb_handler.py:62-72). */
  val exploitDbCsv: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("file", StringType),
    StructField("description", StringType),
    StructField("date_published", StringType),
    StructField("author", StringType),
    StructField("type", StringType),
    StructField("platform", StringType),
    StructField("port", StringType),
    StructField("date_added", StringType),
    StructField("date_updated", StringType),
    StructField("verified", StringType),
    StructField("codes", StringType),
    StructField("tags", StringType),
    StructField("aliases", StringType),
    StructField("screenshot_url", StringType),
    StructField("application_url", StringType),
    StructField("source_url", StringType)))

  /** CISA KEV catalog (datasources/cisa_handler.py:47-67). */
  val kevCatalog: StructType = StructType(Seq(
    StructField("catalogVersion", StringType),
    StructField("dateReleased", StringType),
    StructField("count", LongType),
    StructField("vulnerabilities", ArrayType(StructType(Seq(
      StructField("cveID", StringType),
      StructField("vendorProject", StringType),
      StructField("product", StringType),
      StructField("vulnerabilityName", StringType),
      StructField("dateAdded", StringType),
      StructField("shortDescription", StringType),
      StructField("requiredAction", StringType),
      StructField("dueDate", StringType),
      StructField("knownRansomwareCampaignUse", StringType)))))))

  /** Metasploit modules_metadata_base.json value struct — whole value is
    * stored under {key, data} (datasources/metasploit_handler.py:72-77). */
  val msfModule: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("fullname", StringType),
    StructField("rank", LongType),
    StructField("disclosure_date", StringType),
    StructField("type", StringType),
    StructField("description", StringType),
    StructField("references", ArrayType(StringType))))

  val msfMap: MapType = MapType(StringType, msfModule)

  /** Debian tracker: package → cve_id → details
    * (datasources/debian_handler.py:60-71). */
  val debianDetails: StructType = StructType(Seq(
    StructField("description", StringType),
    StructField("scope", StringType),
    StructField("debianbug", LongType),
    StructField("releases", MapType(StringType, StructType(Seq(
      StructField("status", StringType),
      StructField("urgency", StringType),
      StructField("fixed_version", StringType)))))))

  val debianMap: MapType = MapType(StringType, MapType(StringType, debianDetails))

  /** cvelistV5 deltaLog.json (datasources/cveorg_handler.py:123-156). */
  private val deltaEntry = ArrayType(StructType(Seq(
    StructField("cveId", StringType),
    StructField("cveOrgLink", StringType),
    StructField("githubLink", StringType),
    StructField("dateUpdated", StringType))))
  val deltaLog: StructType = StructType(Seq(
    StructField("fetchTime", StringType),
    StructField("numberOfChanges", LongType),
    StructField("new", deltaEntry),
    StructField("updated", deltaEntry)))

  /** CVE JSON 5.0 record subset (datasources/cveorg_handler.py:78-80). */
  val cveV5Record: StructType = StructType(Seq(
    StructField("cveMetadata", StructType(Seq(
      StructField("cveId", StringType),
      StructField("state", StringType),
      StructField("datePublished", StringType),
      StructField("dateUpdated", StringType)))),
    StructField("containers", StructType(Seq(
      StructField("cna", StructType(Seq(
        StructField("title", StringType)))))))))

  /** Red Hat Hydra page (datasources/redhat_handler.py:91-94, 113). */
  val redhatPage: StructType = StructType(Seq(
    StructField("totalResults", LongType),
    StructField("vulnerabilities", ArrayType(StructType(Seq(
      StructField("cve", StructType(Seq(
        StructField("CVE", StringType),
        StructField("severity", StringType),
        StructField("public_date", StringType),
        StructField("bugzilla", StringType),
        StructField("advisories", ArrayType(StringType)))))))))))

  /** CWE weakness row produced by the XML flatMap (datasources/
    * cwe_handler.py:60-102; keyed on ID at :114). */
  val cweRow: StructType = StructType(Seq(
    StructField("ID", StringType, nullable = false),
    StructField("Name", StringType),
    StructField("Abstraction", StringType),
    StructField("Status", StringType),
    StructField("Description", StringType),
    StructField("Related_Weaknesses", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("nature", StringType)))))))
}
