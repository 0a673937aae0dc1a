package graft

import org.apache.spark.sql.functions._

/** Driver-contract smoke: entry() must return rows on sf0.001, and every
  * catalog query must at least produce a schema (analysis) without
  * touching data. */
class EntrySpec extends SparkSpec {

  test("entry() returns a non-empty merged+prioritized frame") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("priority"))
    assert(df.filter(col("priority").between(1, 4)).count() == df.count())
  }

  test("every query analyzes against sf0.001 (schema resolution)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val schema = fn(spark, "/root/testdata/sf0.001").schema
      assert(schema.nonEmpty, s"$name produced an empty schema")
    }
  }

  test("every oracle key has a matching query key") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("lifecycle entries rerun in one scratch dir: same rows, no new dirs under tmpdir") {
    val dir = "/root/testdata/sf0.001"
    // the scratch-dir name prefixes of the entries run below: the two
    // lifecycle stores, the replays' per-call work dirs' parent, and a
    // replay work dir made directly under tmpdir
    val prefixes = Seq("graft_dailyq_", "graft_annpq_", "graft_work_",
      "graft_docs_replay_", "graft_events_replay_")
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def scratchDirs(): Int = Option(tmp.listFiles).fold(0)(_.count(f =>
      f.isDirectory && prefixes.exists(f.getName.startsWith)))
    def run(name: String) = SparkEntry.queries(name)(spark, dir).collect().toSeq
    val names = Seq("q119_daily_loop_dedup", "q120_ann_pq_persisted",
      "q85_stream_curate", "q91_stream_hourly")
    val first = names.map(run)
    val dirsAfterFirst = scratchDirs()
    val second = names.map(run)
    assert(first(1).nonEmpty && first(2).nonEmpty && first(3).nonEmpty)
    assert(second == first)
    assert(scratchDirs() <= dirsAfterFirst,
      s"rerunning ${names.mkString(", ")} left new scratch dirs in $tmp")
  }
}
