package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.operators.Multimodal
import graft.streaming.EventsStream

/** End-to-end drive of the streaming + multimodal layers against the
  * driver's test tables. Usage: runMain graft.tools.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.build("4")
    spark.sparkContext.setLogLevel("WARN")
    val work = graft.Scratch.fresh("streamdemo_").toString

    // Stage events parquet as a file-source backlog, then drain with
    // AvailableNow through the windowed aggregation (T3/T5).
    val events = Tables.load(spark, sfDir, "events")
    events.write.parquet(s"$work/in/batch1")
    val schema = events.schema
    val stream = spark.readStream.schema(schema).parquet(s"$work/in/*")
    val q = EventsStream.hourlyCounts(stream)
      .writeStream.format("memory").queryName("hourly_demo")
      .outputMode("append")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append-mode only emits windows the watermark has passed
    val emitted = spark.table("hourly_demo").count()
    val totalWindows = events
      .groupBy(date_trunc("hour", col("ts")), col("event_type")).count().count()
    println(s"[streamdemo] windows emitted=$emitted (closed) of $totalWindows total")

    // Multimodal: documents.text as opaque binary payloads → meta → decode
    // stub → resize → similarity-ready features.
    val media = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").as("media_id"), lit("image").as("media_type"),
              col("text").cast("binary").as("payload"),
              lit(null).cast(Multimodal.mediaSchema("meta").dataType).as("meta"))
    val withMeta = Multimodal.withPayloadMeta(media, col("payload"))
    val decoded = Multimodal.decode(withMeta, dim = 8)
    val resized = Multimodal.resizeMeta(decoded, maxSide = 256)
    println(s"[streamdemo] decoded ${decoded.count()} payloads; " +
      s"resized>${resized.filter(col("out_width") <= 256).count()} within bounds")
    val avgW = resized.agg(avg(col("width"))).head().getDouble(0)
    println(f"[streamdemo] avg fake-decoded width: $avgW%.1f px")

    // Stateful processing: per-user running totals via mapGroupsWithState
    // over the same file backlog.
    import spark.implicits._
    val evStream = spark.readStream.schema(schema).parquet(s"$work/in/*")
      .select(col("user_id"), col("event_type"), col("value"))
      .as[graft.streaming.UserEvent]
    val q2 = EventsStream.runningUserTotals(evStream)
      .writeStream.format("memory").queryName("user_totals")
      .outputMode("update")
      .option("checkpointLocation", s"$work/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val users = spark.table("user_totals").select("user_id").distinct().count()
    val evTotal = spark.table("user_totals").agg(sum(col("events"))).head().getLong(0)
    println(s"[streamdemo] stateful totals: $users users, $evTotal events counted " +
      s"(source has ${events.count()})")

    // IVF cell build over embeddings: typed Aggregator centroids.
    val emb = Tables.load(spark, sfDir, "embeddings")
    val units = graft.operators.Similarity.unitVectors(
      emb, Seq("vec_id" -> "id", "label" -> "label"))
    val cents = graft.operators.VectorAggregates.centroids(units, "label", "unit")
    val stats = cents.select(
      count(lit(1)).as("cells"),
      min(graft.operators.Similarity.norm(col("centroid"))).as("min_norm"),
      max(graft.operators.Similarity.norm(col("centroid"))).as("max_norm")).head()
    println(f"[streamdemo] IVF centroids: ${stats.getLong(0)} cells, " +
      f"norm range [${stats.getDouble(1)}%.3f, ${stats.getDouble(2)}%.3f]")
    spark.stop()
  }
}
