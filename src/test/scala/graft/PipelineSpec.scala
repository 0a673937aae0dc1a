package graft

import org.apache.spark.sql.functions._
import graft.CvePipeline.Landing

/** End-to-end golden test (SURVEY.md §5.4): full multi-source corpus →
  * unified snapshot → priorities, matching FIXTURES.md §12 expectations. */
class PipelineSpec extends SparkSpec {

  private def landing = Landing(
    nvd = Some(res("nvd_page.json")),
    epss = Some(res("epss_scores.csv")),
    exploitDb = Some(res("files_exploits.csv")),
    kev = Some(res("known_exploited_vulnerabilities.json")),
    metasploit = Some(res("modules_metadata_base.json")),
    debian = Some(res("debian.json")),
    cveOrgDir = Some(res("cveorg")),
    redhat = Some(res("redhat_page.json")))

  private val t0 = lit("2025-04-05 00:00:00").cast("timestamp")

  test("golden: unified snapshot has one row per CVE with per-source structs") {
    val snap = CvePipeline.buildSnapshot(spark, landing, fidelity = false, now = t0)
    assert(snap.select("id").distinct().count() == snap.count())
    val ids = snap.select("id").collect().map(_.getString(0)).toSet
    // union of all fixture ids
    assert(ids == Set("CVE-2024-0001", "CVE-2021-0002", "CVE-2022-0003",
      "CVE-2024-9999", "CVE-2019-9999", "CVE-2025-0100"))
    val full = snap.filter(col("id") === "CVE-2024-0001").head()
    assert(!full.isNullAt(full.fieldIndex("nvd")))
    assert(!full.isNullAt(full.fieldIndex("epss")))
    assert(!full.isNullAt(full.fieldIndex("kev")))
    assert(!full.isNullAt(full.fieldIndex("exploitdb")))
    assert(!full.isNullAt(full.fieldIndex("metasploit")))
    assert(!full.isNullAt(full.fieldIndex("debian")))
    assert(!full.isNullAt(full.fieldIndex("cveorg")))
    assert(!full.isNullAt(full.fieldIndex("redhat")))
  }

  test("golden: priority ladder over the merged corpus") {
    val snap = CvePipeline.buildSnapshot(spark, landing, now = t0)
    val p = snap.select("id", "priority").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(p("CVE-2024-0001") == 1) // KEV present
    assert(p("CVE-2019-9999") == 1) // KEV-only row
    assert(p("CVE-2022-0003") == 1) // cvss 7.5 ≥ 6 ∧ epss 0.31 ≥ 0.2
    assert(p("CVE-2021-0002") == 4) // cvss 5.0, epss 0.00042
    assert(p("CVE-2025-0100") == 4) // cveorg-only, no signals
  }

  test("combinedDelta: upsert(snap, combined) == upsertMany(snap, deltas)") {
    import graft.operators.Merge
    // a snapshot seeded from a PARTIAL landing, then the full landing as
    // the tick's delta — exercises new ids, re-touched ids, and columns
    // the snapshot has never seen
    val t1 = lit("2025-04-06 00:00:00").cast("timestamp")
    val seed = Landing(kev = Some(res("known_exploited_vulnerabilities.json")),
      epss = Some(res("epss_scores.csv")))
    val snap0 = CvePipeline.buildSnapshot(spark, seed, now = t0).drop("priority")
    val viaMany = Merge.upsertMany(snap0,
      CvePipeline.deltas(spark, landing), "id", t1)
    val viaCombined = Merge.upsert(snap0,
      CvePipeline.combinedDelta(spark, landing), "id", t1)
      .select(viaMany.columns.map(col): _*)
    // canonical JSON rows (debian carries a MAP column, which exceptAll
    // rejects); map entry order is reader-determined, identical per plan
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(to_json(struct(df.columns.sorted.map(col): _*)))
        .collect().map(_.getString(0)).sorted.toSeq
    val (c, m) = (canon(viaCombined), canon(viaMany))
    assert(c == m && m.nonEmpty)
  }

  test("lossless vs fidelity: multi-row sources keep all vs last entries") {
    val lossless = CvePipeline.buildSnapshot(spark, landing, fidelity = false, now = t0)
    val n = lossless.filter(col("id") === "CVE-2024-0001")
      .select(size(col("exploitdb"))).head().getInt(0)
    assert(n == 2) // both exploit rows kept as array (J2 lossless)
    val fid = CvePipeline.buildSnapshot(spark, landing, fidelity = true, now = t0)
    // fidelity mode: scalar struct column, one winner
    val one = fid.filter(col("id") === "CVE-2024-0001").select("exploitdb").head()
    assert(!one.isNullAt(0))
  }

  test("K5: JSON dump round-trips the snapshot (id + priority survive)") {
    val out = SparkSpec.tempDir("json").toString + "/dump"
    val snap = CvePipeline.buildSnapshot(spark, landing, now = t0)
    snap.select("id", "priority").write.json(out)
    val back = spark.read.json(out)
    assert(back.count() == snap.count())
    assert(back.columns.sorted.toSeq == Seq("id", "priority"))
  }

  test("incremental re-merge preserves created_at ($setOnInsert)") {
    val t1 = lit("2025-05-01 00:00:00").cast("timestamp")
    val snap = CvePipeline.buildSnapshot(spark, landing, now = t0)
    val delta = graft.sources.Readers.epss(spark, res("epss_scores.csv"))
    val remerged = graft.operators.Merge.upsert(
      snap.drop("priority"), delta, "id", t1)
    val r = remerged.filter(col("id") === "CVE-2024-0001")
      .select("created_at", "updated_at").head()
    assert(r.getTimestamp(0).toString.startsWith("2025-04-05"))
    assert(r.getTimestamp(1).toString.startsWith("2025-05-01"))
  }
}
