package graft.tools

import org.apache.spark.sql.functions._

import graft.CvePipeline
import graft.CvePipeline.Landing
import graft.operators.{PartitionedSnapshot, Watermarks}
import graft.sources.Readers

/** End-to-end drive of the CVE side of the engine (the reference's
  * `main.py job()`): land fixtures → per-source normalize → K1 merges →
  * prioritize → incremental ticks through DailyLoop.runTick.
  * Usage: runMain graft.tools.CveDemo <fixtureDir> <workDir>
  */
object CveDemo {
  def main(args: Array[String]): Unit = {
    val Array(fixtures, work) = args
    val spark = graft.GraftSession.build("4")
    spark.sparkContext.setLogLevel("WARN")
    def p(name: String) = s"$fixtures/$name"

    // Full init (SURVEY.md §3.1)
    val landing = Landing(
      nvd = Some(p("nvd_page.json")),
      epss = Some(p("epss_scores.csv")),
      exploitDb = Some(p("files_exploits.csv")),
      kev = Some(p("known_exploited_vulnerabilities.json")),
      metasploit = Some(p("modules_metadata_base.json")),
      debian = Some(p("debian.json")),
      cveOrgDir = Some(p("cveorg")),
      redhat = Some(p("redhat_page.json")))
    val snap = CvePipeline.buildSnapshot(spark, landing)
    snap.write.mode("overwrite").parquet(s"$work/cve_snapshot")
    println(s"[cvedemo] snapshot rows: ${snap.count()}")
    snap.select("id", "priority").orderBy("id").collect()
      .foreach(r => println(s"[cvedemo] ${r.getString(0)} -> P${r.getInt(1)}"))

    // Incremental tick (§3.2) through the production scheduler path:
    // marker-clock interval gating, the bounded merge, per-source
    // freshness (P11), watermark advance. No document delta lands.
    val loop = graft.DailyLoop.Paths(s"$work/loop")
    val noDocs = graft.Main.docsDeltaFrom(spark, s"$work/no_docs")
    val t1 = java.sql.Timestamp.valueOf("2025-04-05 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2025-04-05 02:00:00") // < interval
    val t3 = java.sql.Timestamp.valueOf("2025-04-05 06:00:00") // >= interval
    println(s"[cvedemo] committed ticks: ${graft.DailyLoop.committedTick(spark, loop)._1} (expect 0 -> init)")
    graft.DailyLoop.runTick(spark, landing, noDocs, loop, t1)
    println(s"[cvedemo] tick due at +2h? ${graft.DailyLoop.isTickDue(spark, loop, t2, 4)} (expect false)")
    println(s"[cvedemo] tick due at +6h? ${graft.DailyLoop.isTickDue(spark, loop, t3, 4)} (expect true)")
    graft.DailyLoop.runTick(spark, landing, noDocs, loop, t3)
    println(s"[cvedemo] committed ticks: ${graft.DailyLoop.committedTick(spark, loop)._1} (expect 2)")

    val kevReleased = Readers.kevDateReleased(spark, p("known_exploited_vulnerabilities.json"))
    Watermarks.upsert(spark, loop.status, "kev", t3, Some(kevReleased))
    println(s"[cvedemo] kev fresh after stamping? ${Watermarks.isFresh(
      Watermarks.sourceLastUpdate(spark, loop.status, "kev"), kevReleased)} (expect true -> skip)")

    // The analytic scan alone (§3.3), with pruned projection
    val pr = PartitionedSnapshot.read(spark, loop.snapshot)
      .groupBy("priority").agg(count(lit(1)).as("n")).orderBy("priority")
    pr.collect().foreach(r => println(s"[cvedemo] P${r.getInt(0)}: ${r.getLong(1)} CVEs"))
    spark.stop()
  }
}
