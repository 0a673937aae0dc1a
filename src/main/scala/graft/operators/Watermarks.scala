package graft.operators

import java.sql.Timestamp
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** K3/T2: the persisted per-source watermarks (`update_status`) — the
  * reference's streaming-checkpoint analog (handlers/
  * mongodb_handler.py:212-225, 291-307). One stamp type for freshness
  * (quirk #7: the reference mixes datetimes and ISO strings).
  *
  * Control-plane only: one row per source (≤10), kept as ONE small text
  * record committed through [[graft.SnapshotIO.writeRecord]] like every
  * other control-plane file, one line per source:
  * `<source>\t<last_updated>\t<source_last_update>`, both ISO-8601 UTC
  * instants (`2025-04-01T00:00:00.1011Z`) at the stamp's full precision —
  * an upstream stamp must read back equal, or [[isFresh]] would never
  * hold for one with sub-millisecond digits — the upstream stamp empty
  * until a fetch has probed one. Reads and writes run no Spark job.
  */
object Watermarks {

  /** A source's stamps: its last successful run, and the upstream
    * publication stamp last seen (P11), if any. */
  type Stamps = (Timestamp, Option[Timestamp])

  /** Every source's stamps; a missing record reads as none. A record
    * that does not parse fails loudly, naming the file. */
  def read(spark: SparkSession, path: String): Map[String, Stamps] =
    graft.SnapshotIO.readRecord(spark.sparkContext.hadoopConfiguration, new Path(path))
      .fold(Map.empty[String, Stamps])(parse(path, _))

  private def parse(path: String, text: String): Map[String, Stamps] = {
    def stamp(s: String) = scala.util.Try(Timestamp.from(Instant.parse(s))).toOption
    text.split("\n").iterator.filter(_.nonEmpty).map { line =>
      line.split("\t", -1) match {
        case Array(source, lu, slu)
            if source.nonEmpty && stamp(lu).nonEmpty && (slu.isEmpty || stamp(slu).nonEmpty) =>
          source -> (stamp(lu).get, stamp(slu))
        case _ =>
          throw new IllegalArgumentException(s"watermark record $path: cannot parse " +
            s"line '$line' (want <source>\\t<last_updated instant>\\t<source_last_update instant or empty>)")
      }
    }.toMap
  }

  /** Last successful run for a source (main.py:217; nvd_handler.py:139). */
  def lastUpdated(spark: SparkSession, path: String, source: String): Option[Timestamp] =
    read(spark, path).get(source).map(_._1)

  /** Upstream publication stamp (P11 freshness short-circuit input). */
  def sourceLastUpdate(spark: SparkSession, path: String,
                       source: String): Option[Timestamp] =
    read(spark, path).get(source).flatMap(_._2)

  /** Upsert one source row (update_status / update_source_status). */
  def upsert(spark: SparkSession, path: String, source: String,
             lastUpdated: Timestamp,
             sourceLastUpdate: Option[Timestamp] = None): Unit =
    upsertAll(spark, path, Seq((source, lastUpdated, sourceLastUpdate)))

  /** Upsert several source rows in ONE read-modify-write — what the
    * daily tick's freshness stamp uses (the job row plus one row per
    * source that actually fetched). A None `sourceLastUpdate` preserves
    * the stored upstream stamp. */
  def upsertAll(spark: SparkSession, path: String,
                entries: Seq[(String, Timestamp, Option[Timestamp])]): Unit = {
    if (entries.isEmpty) return
    val merged = entries.foldLeft(read(spark, path)) {
      case (acc, (source, lastUpdated, sourceLastUpdate)) =>
        require(source.nonEmpty && !source.exists(c => c == '\t' || c == '\n'),
          s"watermark source name '$source' must be non-empty, without tabs or newlines")
        acc.updated(source,
          (lastUpdated, sourceLastUpdate.orElse(acc.get(source).flatMap(_._2))))
    }
    graft.SnapshotIO.writeRecord(spark.sparkContext.hadoopConfiguration, new Path(path),
      merged.toSeq.sortBy(_._1).map { case (s, (lu, slu)) =>
        s"$s\t${lu.toInstant}\t${slu.fold("")(_.toInstant.toString)}\n"
      }.mkString)
  }

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
