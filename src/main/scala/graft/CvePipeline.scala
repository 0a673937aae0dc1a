package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Merge, Prioritizer}
import graft.sources.Readers

/** The reference's whole job (main.py:64-98) as one declarative flow:
  * NVD init → per-source enrichment upserts → prioritization.
  *
  * Sources land as files (landing-dir interface, Readers); each source
  * normalizes to `{id, <source>}` and full-outer-merges into the snapshot
  * (K1). Multi-row sources (Exploit-DB / Metasploit / Debian) default to
  * the lossless array shape (J2); `fidelity = true` reproduces the
  * reference's last-writer-wins collapse.
  *
  * Scale: each merge is one shuffle on `id`; small deltas broadcast under
  * AQE. The per-source merges could be chained in one plan (Catalyst fuses
  * the projections; the joins pipeline through a single sort-merge chain
  * on the same key when the snapshot is pre-partitioned by id).
  */
object CvePipeline {

  case class Landing(
      nvd: Option[String] = None,
      epss: Option[String] = None,
      exploitDb: Option[String] = None,
      kev: Option[String] = None,
      metasploit: Option[String] = None,
      debian: Option[String] = None,
      cveOrgDir: Option[String] = None,
      redhat: Option[String] = None,
      /** Upstream publication stamps the fetch probed per source
        * (P11/S12): the tick commits them as `source_last_update` at
        * its freshness-stamp step, closing the skip-when-fresh loop. A
        * source skipped as fresh lands neither a file nor a stamp —
        * its stored stamp must not advance. */
      stamps: Map[String, java.sql.Timestamp] = Map.empty) {
    /** No source landed this tick (DailyLoop skips the merge step).
      * Enumerated explicitly — a productIterator fold would silently
      * treat a future non-Option field as "empty"; adding a field here
      * is a compile-visible decision. `stamps` is deliberately NOT
      * consulted: it is commit metadata, not landed data. */
    def isEmpty: Boolean =
      Seq(nvd, epss, exploitDb, kev, metasploit, debian, cveOrgDir, redhat)
        .forall(_.isEmpty)
  }

  /** Collapse a multi-row source to one row per id: lossless array or
    * reference-fidelity last-writer-wins (source file order stands in for
    * bulk_write order via a deterministic sort surrogate). */
  def collapse(df: DataFrame, sourceCol: String, fidelity: Boolean): DataFrame =
    if (fidelity)
      Merge.lastWriterWins(
        df.withColumn("_pos", monotonically_increasing_id()), "id", col("_pos"))
        .drop("_pos")
    else
      Merge.lossless(df, "id", sourceCol)

  /** Every landed source as a one-row-per-id delta, in the reference's
    * merge order (main.py:64-98). Shared by the init build AND the update
    * tick so no source can be silently dropped from one path. */
  def deltas(spark: SparkSession, landing: Landing,
             fidelity: Boolean = false): Seq[DataFrame] = Seq(
    landing.nvd.map(p => Readers.nvd(spark, p)),
    landing.exploitDb.map(p => collapse(Readers.exploitDb(spark, p), "exploitdb", fidelity)),
    landing.metasploit.map(p => collapse(Readers.metasploit(spark, p), "metasploit", fidelity)),
    landing.epss.map(p => Readers.epss(spark, p)),
    landing.kev.map(p => Readers.kev(spark, p)),
    landing.debian.map(p => collapse(Readers.debian(spark, p), "debian", fidelity)),
    landing.cveOrgDir.map(p => Readers.cveOrg(spark, p)),
    landing.redhat.map(p => Readers.redhat(spark, p))
  ).flatten

  /** All landed sources collapsed into ONE one-row-per-id delta frame
    * (no bookkeeping columns): per column the latest-arriving non-null
    * value wins, exactly [[graft.operators.Merge.upsertMany]]'s rule —
    * so `upsert(snapshot, combinedDelta(...))` equals
    * `upsertMany(snapshot, deltas(...))` (property-tested in
    * CvePipelineSpec). This is the delta shape the bounded
    * [[graft.operators.PartitionedSnapshot.mergeDelta]] consumes: its
    * keys are exactly the ids any source touched this tick, which is
    * what prunes the snapshot rewrite to touched buckets. One shuffle
    * (union + keyed agg) over delta-sized data only. */
  def combinedDelta(spark: SparkSession, landing: Landing,
                    fidelity: Boolean = false): DataFrame = {
    val ds = deltas(spark, landing, fidelity)
    require(ds.nonEmpty, "at least one landed source required")
    // the zero-row base contributes no values; now is irrelevant because
    // the stamps are dropped — the real stamps come from the outer merge
    Merge.upsertMany(emptyBase(spark), ds, "id")
      .drop(Merge.CreatedAt, Merge.UpdatedAt)
  }

  /** The zero-row `{id: string not null}` base an N-source merge folds
    * its deltas into, stamped with `now`. */
  private def emptyBase(spark: SparkSession,
                        now: Column = current_timestamp()): DataFrame =
    Merge.init(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.StringType, nullable = false)))),
      now)

  /** Build the unified snapshot from landed files. `now` is injectable so
    * golden tests are deterministic (F13 timestamps). */
  def buildSnapshot(spark: SparkSession, landing: Landing,
                    fidelity: Boolean = false,
                    now: Column = current_timestamp()): DataFrame = {
    val deltas = this.deltas(spark, landing, fidelity)
    require(deltas.nonEmpty, "at least one landed source required")
    // One shuffle for the whole N-source merge (union + keyed agg), not
    // N chained full-outer joins — Merge.upsertMany is property-tested
    // equal to the fold.
    prioritize(Merge.upsertMany(emptyBase(spark, now), deltas, "id", now))
  }

  /** §3.3: the prioritization scan as a narrow projection. */
  def prioritize(snapshot: DataFrame): DataFrame = {
    val cols = snapshot.columns.toSet
    val kevCol = if (cols("kev")) col("kev") else lit(null)
    val nvdCol = if (cols("nvd")) col("nvd") else lit(null)
    val epssCol = if (cols("epss")) col("epss") else lit(null)
    if (cols("nvd") && cols("epss"))
      snapshot.withColumn("priority", Prioritizer.score(nvdCol, kevCol, epssCol))
    else
      snapshot.withColumn("priority",
        Prioritizer.priority(kevCol, lit(0.0), lit(0.0)))
  }
}
