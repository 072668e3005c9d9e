package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sinks.Sinks
import graft.streaming.StreamingAggs

/** The reference's streaming flagship composition (SURVEY §3.1,
  * reference: bigdata-project/src/spark_streaming_v2.py): wire-decode →
  * shared enrichment → fan-out to an append detail sink plus update-mode
  * windowed aggregate sinks, each with its own checkpoint, then
  * `awaitAnyTermination` by the caller.
  *
  * The source is any streaming DataFrame with a string `value` column —
  * Kafka in production (`spark.readStream.format("kafka")...selectExpr(
  * "CAST(value AS STRING)")`, S2/S3), MemoryStream or file source in tests.
  * The Kafka connector is config, not code: everything downstream of
  * `value` is source-agnostic.
  */
object StreamPipeline {

  /** Declared wire schema (S4) — the canonical event envelope. */
  val wireSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", StringType), // ISO-8601; parsed to timestamp below
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Kafka wire projection (S3): the binary `value` → string. Applied to a
    * `spark.readStream.format("kafka")` frame; no-op schema-wise for test
    * sources that already carry a string value.
    */
  def fromKafka(kafka: DataFrame): DataFrame =
    kafka.selectExpr("CAST(value AS STRING) AS value")

  /** `value` JSON → typed columns → shared enrichment (same code path as
    * batch, W1). Malformed records yield null fields (permissive from_json)
    * and are dropped by the pipeline's validation filter.
    */
  def decode(withValue: DataFrame): DataFrame = {
    val parsed = withValue
      .select(from_json(col("value"), wireSchema).as("data"))
      .select("data.*")
      // try_to_timestamp: permissive from_json makes malformed ENVELOPES
      // null, but a parseable envelope with an unparseable ts string would
      // THROW under ANSI mode — terminating the streaming query, and the
      // checkpoint would replay the same poison record on every restart
      // (review finding). Null ts then drops in the validation filter,
      // exactly as this method's contract states.
      .withColumn("ts", try_to_timestamp(col("ts")))
    EventsPipeline.enrich(parsed)
  }

  /** Fan out the enriched stream into the reference's sink topology:
    * append detail + N update-mode windowed aggregates (W4/W6/W7).
    * Returns the started queries; callers own
    * `spark.streams.awaitAnyTermination()` (W8).
    */
  def start(enriched: DataFrame, outDir: String, checkpointDir: String): Seq[StreamingQuery] = {
    val detail = enriched.writeStream
      .format("parquet")
      .option("path", s"$outDir/detail")
      .option("checkpointLocation", s"$checkpointDir/detail")
      .outputMode("append")
      .start()
    val byType = StreamingAggs
      .tumblingStats(enriched, "ts", "5 minutes", Seq("event_type_clean"), "value",
        watermark = Some("10 minutes"))
      .writeStream
      .option("checkpointLocation", s"$checkpointDir/type_stats")
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Sinks.upsertBatch(batch, Seq("doc_id"), s"$outDir/type_stats", batchId)
        ()
      }
      .start()
    val byCategory = StreamingAggs
      .tumblingStats(enriched, "ts", "10 minutes", Seq("category"), "value",
        watermark = Some("15 minutes"))
      .writeStream
      .option("checkpointLocation", s"$checkpointDir/category_stats")
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Sinks.upsertBatch(batch, Seq("doc_id"), s"$outDir/category_stats", batchId)
        ()
      }
      .start()
    Seq(detail, byType, byCategory)
  }

  /** The same sink topology as [[start]], at a third of the execution cost:
    * ONE streaming query whose every micro-batch persists the enriched
    * batch once, appends it to the detail lake, and lands each windowed
    * aggregate as mergeable partials from the cache.
    *
    * [[start]] mirrors the reference's N independent queries, and Spark
    * semantics re-execute the shared enrichment prefix once per query per
    * micro-batch (the reference pays this 6×, spark_streaming_v2.py). Here
    * the prefix executes exactly once per batch (asserted by accumulator
    * in `PipelinesSpec`), although the three sink writes run concurrently
    * ([[Sinks.fanOut]]): concurrent first reads of a cached block are
    * computed by one task under the BlockManager's write lock, and the
    * others read its result. The batch commits only after all three
    * writes finished; if any failed, the micro-batch fails and a restart
    * replays it whole. ALL THREE sinks use `appendVersioned`: each
    * micro-batch lands as its own `__ver=batchId` partition with dynamic
    * partition overwrite, so a batch replayed after a crash overwrites
    * ONLY its own partition instead of re-appending — exactly-once end to
    * end, detail included (a plain parquet append for detail would be
    * at-least-once: foreachBatch has no file-sink commit log to dedup
    * replays). Read the detail with [[readDetail]]; aggregate read sides
    * merge with `readMergedPartials` + `StreamingAggs.finishStats`.
    */
  def startFanOut(enriched: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    enriched.writeStream
      .option("checkpointLocation", s"$checkpointDir/fanout")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          val sinks = Seq(
            "detail" -> batch,
            "type_stats" -> StreamingAggs.tumblingPartials(
              batch, "ts", "5 minutes", Seq("event_type_clean"), "value"),
            "category_stats" -> StreamingAggs.tumblingPartials(
              batch, "ts", "10 minutes", Seq("category"), "value"))
          Sinks.fanOut(sinks.map { case (name, df) =>
            val path = s"$outDir/$name"
            path -> (() => Sinks.appendVersioned(df, path, batchId))
          })
          ()
        } finally batch.unpersist()
      }
      .start()

  /** Read [[startFanOut]]'s detail lake: the `__ver` idempotency partition
    * column is an implementation detail of the exactly-once contract, not
    * part of the event schema.
    */
  def readDetail(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/detail").drop("__ver")
}
