package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Schemas

/** K3/T2: the persisted per-source watermark table (`update_status`) —
  * the reference's streaming-checkpoint analog (handlers/
  * mongodb_handler.py:212-225, 291-307). One TimestampType column for
  * freshness (quirk #7: the reference mixes datetimes and ISO strings).
  *
  * Control-plane only: rows = number of sources (≤10), so the
  * read-modify-overwrite of a tiny parquet is deliberate — it is NOT a
  * data-plane pattern.
  */
object Watermarks {

  def read(spark: SparkSession, path: String): DataFrame = {
    graft.SnapshotIO.recover(spark.sparkContext.hadoopConfiguration, path)
    if (graft.SnapshotIO.nonEmpty(spark.sparkContext.hadoopConfiguration, path))
      spark.read.schema(Schemas.updateStatus).parquet(path)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.updateStatus)
  }

  /** Last successful run for a source (main.py:217; nvd_handler.py:139).
    * flatMap(Option(_)): a persisted null stamp must yield None, not
    * Some(null) — callers compare .getTime on the value. */
  def lastUpdated(spark: SparkSession, path: String, source: String): Option[Timestamp] =
    read(spark, path).filter(col("data_source") === source)
      .select("last_updated").collect().headOption
      .flatMap(r => Option(r.getTimestamp(0)))

  /** Upstream publication stamp (P11 freshness short-circuit input). */
  def sourceLastUpdate(spark: SparkSession, path: String,
                       source: String): Option[Timestamp] =
    read(spark, path).filter(col("data_source") === source)
      .select("source_last_update").collect().headOption
      .flatMap(r => Option(r.getTimestamp(0)))

  /** Upsert one source row (update_status / update_source_status). */
  def upsert(spark: SparkSession, path: String, source: String,
             lastUpdated: Timestamp,
             sourceLastUpdate: Option[Timestamp] = None): Unit =
    upsertAll(spark, path, Seq((source, lastUpdated, sourceLastUpdate)))

  /** Upsert several source rows in ONE read-modify-swap — what the
    * daily tick's freshness stamp uses (the job row plus one row per
    * source that actually fetched): N sequential [[upsert]]s would
    * rewrite the tiny parquet N times per tick for nothing. A None
    * `sourceLastUpdate` preserves the stored upstream stamp. */
  def upsertAll(spark: SparkSession, path: String,
                entries: Seq[(String, Timestamp, Option[Timestamp])]): Unit = {
    if (entries.isEmpty) return
    val existing = read(spark, path).collect()
      .map(r => (r.getString(0), (Option(r.getTimestamp(1)), Option(r.getTimestamp(2)))))
      .toMap
    val merged = entries.foldLeft(existing) {
      case (acc, (source, lastUpdated, sourceLastUpdate)) =>
        acc.updated(source,
          (Some(lastUpdated),
            sourceLastUpdate.orElse(acc.get(source).flatMap(_._2))))
    }
    val rows = merged.toSeq.sortBy(_._1).map { case (s, (lu, slu)) =>
      org.apache.spark.sql.Row(s, lu.orNull, slu.orNull)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Schemas.updateStatus)
    // staged then swapped: the source of the read is the target
    graft.SnapshotIO.replace(spark.sparkContext.hadoopConfiguration, path) { tmp =>
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    }
  }

  /** T3: catch-up window start — last success, else now minus the
    * cold-start lookback (nvd_handler.py:142-147: 24 h). */
  def windowStart(spark: SparkSession, path: String, source: String,
                  now: Timestamp, lookbackHours: Int = 24): Timestamp =
    lastUpdated(spark, path, source).getOrElse(
      new Timestamp(now.getTime - lookbackHours * 3600L * 1000L))

  /** P11: skip the source when the upstream stamp is not newer than what
    * we stored (epss_handler.py:111-120 and friends). */
  def isFresh(stored: Option[Timestamp], upstream: Timestamp): Boolean =
    stored.exists(s => !upstream.after(s))

  /** [[isFresh]] at the reference's DAY granularity — the handlers
    * compare `.date()`s, not instants (cisa_handler.py:55,
    * epss_handler.py:64), so an upstream that re-releases LATER THE
    * SAME DAY reads as fresh and is skipped until tomorrow. The
    * default fetch path deliberately keeps the stricter full-instant
    * [[isFresh]] (same probe cost, no same-day blind spot); this
    * variant exists for behavioral-fidelity deployments
    * (`freshness_granularity = day` in the source's config section).
    * Days are UTC calendar days — stamp comparison must not depend on
    * the driver host's timezone. */
  def isFreshDay(stored: Option[Timestamp], upstream: Timestamp): Boolean =
    stored.exists { s =>
      val utcDay = (t: Timestamp) =>
        t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
      !utcDay(upstream).isAfter(utcDay(s))
    }
}
