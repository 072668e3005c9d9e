package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.agg.BatchAggregates
import graft.ops.Cleaning
import graft.sinks.Sinks

/** The reference's batch job composition (SURVEY §3.2,
  * reference: bigdata-project/src/spark_batch_v2.py): read one lake
  * partition → empty-guard → dedup → validate → enrich → detail docs to a
  * keyed-upsert sink + aggregate tables to table sinks.
  *
  * Deviations by design (SURVEY §4.1): partition pruning is a predicate
  * (not a path glob), failures propagate (the reference swallows exceptions
  * and exits 0), and the run date is a parameter (not `datetime.now()`).
  */
object BatchPipeline {

  final case class Result(detailRows: Long, aggTables: Map[String, Long])

  /** @param lakePath  date-partitioned events lake (written by [[Sinks]])
    * @param outDir    sink root; detail + one dir per aggregate table
    * @param reportDate partition to process, `yyyy-MM-dd`
    */
  def run(spark: SparkSession, lakePath: String, outDir: String, reportDate: String): Result =
    run(spark, Sinks.readLakePartition(spark, lakePath, "event_date", reportDate),
      outDir, reportDate)

  /** Frame-input flavor: same pipeline with the scan supplied by the caller
    * (tests instrument it with an accumulator to assert the single-pass
    * contract below).
    */
  def run(spark: SparkSession, raw: DataFrame, outDir: String, reportDate: String): Result = {
    if (raw.isEmpty) return Result(0L, Map.empty) // P5 empty-input short-circuit

    // latest-ts wins; the md5-of-row tail makes the order TOTAL, so two
    // rows sharing (event_id, ts) pick the same winner on every run and
    // layout — dedupByKey is only as deterministic as its order columns
    // (review finding)
    val deduped = Cleaning.dedupByKey(raw, Seq("event_id"),
      Seq(col("ts").desc, md5(to_json(struct(raw.columns.map(col).toIndexedSeq: _*))).desc))
    // Single-pass fan-out: the detail sink plus five aggregates all consume
    // `enriched` — without a persist each sink's action re-executes the
    // scan+dedup+enrich prefix, six full lake-partition scans at 100 TB
    // (the reference accepts exactly this cost per streaming query, SURVEY
    // §3.1; the streaming side here already fixed it via `startFanOut`).
    // The six writes run concurrently (`Sinks.fanOut`) and the prefix still
    // runs once: the cache entry builds its RDD once, and concurrent first
    // reads of a cached block are computed by one task under the
    // BlockManager's write lock while the others wait for its result.
    // MEMORY_AND_DISK: a day's enriched partition that outgrows executor
    // memory spills to local disk rather than recomputing.
    val enriched = EventsPipeline.enrich(deduped)
      .withColumn("report_date", lit(reportDate).cast("date")) // D6
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Every sink is a keyed upsert that ACCUMULATES across daily runs.
      // Version = the report date's epoch day: a re-run of the same date
      // is idempotent, a later date wins per key.
      // - detail docs (S5), like the reference's es.write.operation=upsert
      //   index — a whole-table replace destroyed day N's docs on day N+1
      //   (review finding);
      // - aggregate tables (A2-A7 shapes), each with its Cassandra-PK dim
      //   set: the reference's Cassandra writes are inserts = PK upserts,
      //   so a later day's stats REPLACE the row per dim key while other
      //   dims' rows survive (same review finding).
      def stamped(df: DataFrame) = df.withColumn("report_date", lit(reportDate).cast("date"))
      val sinks: Seq[(String, DataFrame, Seq[String])] = Seq(
        ("detail", enriched, Seq("doc_id")),
        ("type_stats", stamped(BatchAggregates.dimensionStats(
          enriched, Seq("event_type_clean"), "value", col("is_high_value"))),
          Seq("event_type_clean")),
        ("region_stats", stamped(BatchAggregates.dimensionStats(
          enriched, Seq("region", "category"), "value", col("is_high_value"))),
          Seq("region", "category")),
        ("category_percentiles", stamped(BatchAggregates.percentileStats(
          enriched, Seq("category"), "value")), Seq("category")),
        ("temporal_stats", stamped(BatchAggregates.temporalStats(
          enriched, "dow", "month", "value")), Seq("dow", "month")),
        ("tier_distribution", stamped(BatchAggregates.distribution(
          enriched, "value_tier", "category")), Seq("value_tier", "category")))
      val version = java.time.LocalDate.parse(reportDate).toEpochDay
      val counts = Sinks.fanOut(sinks.map { case (name, df, keys) =>
        val path = s"$outDir/$name"
        path -> (() => Sinks.upsertBatch(df, keys, path, version))
      })
      val rows = sinks.map(_._1).zip(counts).toMap
      Result(rows("detail"), rows - "detail")
    } finally enriched.unpersist(blocking = false)
  }
}
