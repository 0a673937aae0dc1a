package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loader for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take a scale-factor directory so the same catalog runs at
  * sf0.001 (smoke), sf0.01 (DuckDB oracle) and sf0.1 (bench). At cluster
  * scale these would be catalog tables; the reader shape (schema'd parquet,
  * column-pruned + filter-pushed by Catalyst) is identical.
  */
object Tables {
  /** Sessions must set spark.sql.legacy.parquet.nanosAsLong=true — Spark 4
    * rejects parquet TIMESTAMP(NANOS) (events.ts) otherwise. */
  val nanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts arrives as nano-of-epoch long (see nanosAsLongKey);
    // normalize to a micros TimestampType so downstream ops are uniform.
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    // Non-UTC-adjusted parquet micros read as NTZ when a session lacks
    // GraftSession's inferTimestampNTZ=false. The NTZ→TZ cast interprets
    // the wall-clock in the SESSION timezone, so it is instant-preserving
    // only under UTC — fail loudly rather than silently shift every event
    // instant in a non-UTC session.
    else if (name == "events" &&
             df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType) {
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC" || tz == "Etc/UTC" || tz == "GMT",
        s"events.ts NTZ→Timestamp cast requires a UTC session " +
          s"(spark.sql.session.timeZone=$tz would shift instants); " +
          "use GraftSession, or set the session timezone to UTC")
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
    else df
  }
}
