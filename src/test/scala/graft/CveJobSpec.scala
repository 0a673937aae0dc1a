package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.CvePipeline.Landing

class CveJobSpec extends SparkSpec {

  private def landing = Landing(
    nvd = Some(res("nvd_page.json")),
    epss = Some(res("epss_scores.csv")),
    kev = Some(res("known_exploited_vulnerabilities.json")))

  private def ts(s: String) = Timestamp.valueOf(s)

  test("quirk#1: init vs update inferred from the job watermark") {
    val work = SparkSpec.tempDir("job").toString
    val status = s"$work/status"
    assert(CveJob.isInitRun(spark, status))
    CveJob.runTick(spark, landing, s"$work/snap", status, ts("2025-04-01 00:00:00"))
    assert(!CveJob.isInitRun(spark, status))
    assert(spark.read.parquet(s"$work/snap").count() > 0)
  }

  test("T3: tick due at interval boundary and after downtime, not before") {
    val work = SparkSpec.tempDir("job2").toString
    val status = s"$work/status"
    assert(CveJob.isTickDue(spark, status, ts("2025-04-01 00:00:00"))) // cold
    CveJob.runTick(spark, landing, s"$work/snap", status, ts("2025-04-01 00:00:00"))
    assert(!CveJob.isTickDue(spark, status, ts("2025-04-01 03:59:00")))
    assert(CveJob.isTickDue(spark, status, ts("2025-04-01 04:00:00")))
    assert(CveJob.isTickDue(spark, status, ts("2025-04-03 12:00:00"))) // downtime
  }

  test("T1/T6: loop ticks when due and stops cooperatively") {
    val work = SparkSpec.tempDir("job3").toString
    val status = s"$work/status"
    var calls = 0
    val clockTimes = Seq(
      ts("2025-04-01 00:00:00"), // tick 1 (init)
      ts("2025-04-01 01:00:00"), // not due
      ts("2025-04-01 05:00:00"), // tick 2
      ts("2025-04-01 06:00:00")) // stop before this is evaluated
    val ticks = CveJob.loop(spark, landing, s"$work/snap", status,
      intervalHours = 4,
      shouldStop = () => calls >= clockTimes.length - 1,
      clock = () => { val t = clockTimes(math.min(calls, clockTimes.length - 1)); calls += 1; t },
      sleepMs = 1L)
    assert(ticks == 2)
    // updated_at of the second tick's merge survives in the snapshot
    val snap = spark.read.parquet(s"$work/snap")
    assert(snap.agg(max(col("updated_at"))).head().getTimestamp(0)
      == ts("2025-04-01 05:00:00"))
    // idempotence across ticks: one row per id
    assert(snap.select("id").distinct().count() == snap.count())
  }
}
