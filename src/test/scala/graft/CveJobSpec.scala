package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.CvePipeline.Landing
import graft.operators.{PartitionedSnapshot, Watermarks}

class CveJobSpec extends SparkSpec {

  private def landing = Landing(
    nvd = Some(res("nvd_page.json")),
    epss = Some(res("epss_scores.csv")),
    kev = Some(res("known_exploited_vulnerabilities.json")))

  private def ts(s: String) = Timestamp.valueOf(s)

  test("quirk#1: init vs update inferred from the snapshot layout") {
    val snap = SparkSpec.tempDir("job").toString + "/snap"
    assert(!PartitionedSnapshot.isInitialized(spark, snap))
    CveJob.mergeLanded(spark, landing, snap, ts("2025-04-01 00:00:00"))
    assert(PartitionedSnapshot.isInitialized(spark, snap))
    val n = PartitionedSnapshot.read(spark, snap).count()
    assert(n > 0)
    // the second call takes the update path: matched rows keep their
    // created_at and take the new updated_at, no row is duplicated
    CveJob.mergeLanded(spark, landing, snap, ts("2025-04-02 00:00:00"))
    val s2 = PartitionedSnapshot.read(spark, snap)
    assert(s2.count() == n)
    val stamps = s2.agg(min(col("created_at")), max(col("created_at")),
      min(col("updated_at"))).head()
    assert(stamps.getTimestamp(0) == ts("2025-04-01 00:00:00"))
    assert(stamps.getTimestamp(1) == ts("2025-04-01 00:00:00"))
    assert(stamps.getTimestamp(2) == ts("2025-04-02 00:00:00"))
  }

  test("T3: tick due at interval boundary and after downtime, not before") {
    val p = DailyLoop.Paths(SparkSpec.tempDir("job2").toString)
    val noDocs = Main.docsDeltaFrom(spark, s"${p.root}/no_docs")
    assert(DailyLoop.isTickDue(spark, p, ts("2025-04-01 00:00:00"), 4)) // cold
    DailyLoop.runTick(spark, landing, noDocs, p, ts("2025-04-01 00:00:00"))
    // the tick stamps the job watermark with its own clock
    assert(Watermarks.lastUpdated(spark, p.status, CveJob.JobSource)
      .contains(ts("2025-04-01 00:00:00")))
    assert(!DailyLoop.isTickDue(spark, p, ts("2025-04-01 03:59:00"), 4))
    assert(DailyLoop.isTickDue(spark, p, ts("2025-04-01 04:00:00"), 4))
    assert(DailyLoop.isTickDue(spark, p, ts("2025-04-03 12:00:00"), 4)) // downtime
  }
}
