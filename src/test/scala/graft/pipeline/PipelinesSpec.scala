package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import org.apache.spark.sql.functions.lit

import graft.sinks.Sinks

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-pipe").toString

  private def mkLake(dir: String): Unit = {
    val events = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 5L, "click", 50.0, """{"k": 4}""", "2024-01-01"),
      (1L, Timestamp.valueOf("2024-01-01 10:00:01"), 5L, "click", 50.0, """{"k": 4}""", "2024-01-01"), // dup id
      (2L, Timestamp.valueOf("2024-01-01 11:00:00"), 6L, "purchase", 120.0, """{"k": 2}""", "2024-01-01"),
      (3L, Timestamp.valueOf("2024-01-02 09:00:00"), 7L, "error", 10.0, """{"k": 1}""", "2024-01-02"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props", "event_date")
    Sinks.writePartitionedLake(events, "event_date", dir)
  }

  test("BatchPipeline end-to-end: one partition in, detail + agg tables out") {
    val lake = tmpDir() + "/lake"
    val out = tmpDir() + "/out"
    mkLake(lake)
    val r = BatchPipeline.run(spark, lake, out, "2024-01-01")
    assert(r.detailRows == 2) // dup event_id collapsed; day-2 row pruned
    assert(r.aggTables.keySet == Set(
      "type_stats", "region_stats", "category_percentiles", "temporal_stats", "tier_distribution"))
    val detail = spark.read.parquet(s"$out/detail")
    assert(detail.filter($"category" === "Commerce").count() == 1)
    val tiers = spark.read.parquet(s"$out/tier_distribution")
    assert(tiers.columns.contains("report_date"))
  }

  private val aggTables = Seq(
    "type_stats", "region_stats", "category_percentiles", "temporal_stats", "tier_distribution")

  /** What [[BatchPipeline.Result]] must report: a re-read of every table. */
  private def reread(out: String): BatchPipeline.Result =
    BatchPipeline.Result(spark.read.parquet(s"$out/detail").count(),
      aggTables.map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap)

  test("daily batch runs ACCUMULATE: day N+1 upserts, never wipes day N") {
    val lake = tmpDir() + "/lake"
    val out = tmpDir() + "/out"
    mkLake(lake)
    val r1 = BatchPipeline.run(spark, lake, out, "2024-01-01")
    // the counts come from the write jobs, and must equal the tables
    assert(r1 == reread(out))
    val day1Detail = spark.read.parquet(s"$out/detail").count()
    val day1Types = spark.read.parquet(s"$out/type_stats")
      .select("event_type_clean").as[String].collect().toSet
    // day 2 touches only the 'error' type; day 1's detail docs and the
    // CLICK/PURCHASE stat rows must survive (the reference's ES/Cassandra
    // sinks are keyed upserts, not table replaces — review finding)
    val r2 = BatchPipeline.run(spark, lake, out, "2024-01-02")
    assert(r2.detailRows == day1Detail + 1,
      "day 2 must add to the detail store, not replace it")
    val types = spark.read.parquet(s"$out/type_stats")
      .select("event_type_clean").as[String].collect().toSet
    assert(types == day1Types + "ERROR", types.toString)
    // re-running a date is idempotent (same version wins per key)
    val r2again = BatchPipeline.run(spark, lake, out, "2024-01-02")
    assert(r2again.detailRows == r2.detailRows)
    assert(r2 == r2again && r2again == reread(out))
  }

  test("batch and stream sinks write into an output dir whose name has a space") {
    val root = tmpDir() + "/out dir"
    mkLake(s"$root/lake")
    val r = BatchPipeline.run(spark, s"$root/lake", s"$root/batch", "2024-01-01")
    assert(r == reread(s"$root/batch") && r.detailRows == 2)
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[String]
    val query = StreamPipeline.startFanOut(
      StreamPipeline.decode(stream.toDF().toDF("value")), s"$root/stream", s"$root/ckpt")
    try {
      stream.addData(
        """{"event_id": 1, "ts": "2024-01-01 10:01:00", "user_id": 3, "event_type": "click", "value": 42.0, "props": "{}"}""")
      query.processAllAvailable()
    } finally query.stop()
    assert(StreamPipeline.readDetail(spark, s"$root/stream").count() == 1)
    Seq("type_stats", "category_stats").foreach(t =>
      assert(spark.read.parquet(s"$root/stream/$t").count() == 1, t))
  }

  test("a failing batch sink fails the run; the other sinks land whole and the cache is released") {
    val lake = tmpDir() + "/lake"
    val clean = tmpDir() + "/clean"
    val out = tmpDir() + "/out"
    mkLake(lake)
    BatchPipeline.run(spark, lake, clean, "2024-01-01")
    // a plain file where the region_stats table should be: its upsert
    // cannot read the "table" it merges into
    Files.createDirectories(java.nio.file.Paths.get(out))
    Files.writeString(java.nio.file.Paths.get(s"$out/region_stats"), "not a table")
    val cached = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[Exception](BatchPipeline.run(spark, lake, out, "2024-01-01"))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("region_stats")), e.toString)
    assert(spark.sparkContext.getPersistentRDDs.size == cached, "enriched stayed cached")
    // every other table holds exactly one complete generation: the same
    // rows as the clean run, and no staged or parked copy beside it
    for (t <- "detail" +: aggTables.filterNot(_ == "region_stats")) {
      val (got, want) = (spark.read.parquet(s"$out/$t"), spark.read.parquet(s"$clean/$t"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, t)
      Seq("__tmp", Sinks.OldSuffix).foreach(sfx =>
        assert(!Files.exists(java.nio.file.Paths.get(s"$out/$t$sfx")), s"$t$sfx left behind"))
    }
  }

  test("stddev aggregate survives a single >$30M measure (no long overflow in c*c)") {
    val big = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 5L, "click", 4.0e7, """{"k":1}""", "2024-01-01"),
      (2L, Timestamp.valueOf("2024-01-01 11:00:00"), 6L, "click", 3.0e7, """{"k":2}""", "2024-01-01"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props", "event_date")
    // cents = 4e9 → c*c = 1.6e19 > Long.MaxValue: the old long multiply
    // threw ARITHMETIC_OVERFLOW under ANSI (review finding)
    val row = graft.agg.BatchAggregates
      .dimensionStats(EventsPipeline.enrich(big), Seq("event_type_clean"), "value", lit(false))
      .select("cnt", "stddev_val").as[(Long, Double)].head()
    assert(row._1 == 2L)
    // exact stddev of {3e7, 4e7} = 1e7/sqrt(2)·sqrt(2) = 7071067.8118...
    assert(math.abs(row._2 - 7071067.8118) < 1e-3, row.toString)
  }

  test("a poison props record degrades to null k instead of killing the batch") {
    val poison = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 5L, "click", 1.0, """{"k":"abc"}""", "2024-01-01"),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"), 5L, "click", 2.0, """{"k":"12.5"}""", "2024-01-01"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props", "event_date")
    val out = EventsPipeline.enrich(poison).select("event_id", "k")
      .as[(Long, Option[Int])].collect().toMap
    assert(out == Map(1L -> None, 2L -> None), out.toString)
  }

  test("a poison ts string in the stream decodes to null and drops, not a crash loop") {
    val wire = Seq(
      """{"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 5, "event_type": "click", "value": 1.0, "props": "{}"}""",
      """{"event_id": 2, "ts": "not-a-date", "user_id": 5, "event_type": "click", "value": 2.0, "props": "{}"}""")
      .toDF("value")
    val decoded = StreamPipeline.decode(wire)
    assert(decoded.count() == 2, "both records survive enrichment's id/type filter")
    assert(decoded.filter($"ts".isNull).count() == 1, "the poison ts must be null, not a throw")
  }

  test("BatchPipeline empty-partition short-circuit (P5)") {
    val lake = tmpDir() + "/lake"
    val out = tmpDir() + "/out"
    mkLake(lake)
    val r = BatchPipeline.run(spark, lake, out, "2099-12-31")
    assert(r == BatchPipeline.Result(0L, Map.empty))
  }

  test("BatchPipeline.run executes the scan+dedup+enrich prefix ONCE across the 6-sink fan-out") {
    val out = tmpDir() + "/out"
    val acc = spark.sparkContext.longAccumulator("batch-prefix-rows")
    // instrument the raw scan so every evaluation of the shared prefix bumps
    // the accumulator once per row; single partition so the isEmpty guard's
    // limit-1 probe touches at most one extra row
    val raw = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 5L, "click", 50.0, """{"k": 4}""", "2024-01-01"),
      (1L, Timestamp.valueOf("2024-01-01 10:00:01"), 5L, "click", 50.0, """{"k": 4}""", "2024-01-01"),
      (2L, Timestamp.valueOf("2024-01-01 11:00:00"), 6L, "purchase", 120.0, """{"k": 2}""", "2024-01-01"),
      (3L, Timestamp.valueOf("2024-01-01 12:00:00"), 7L, "error", 10.0, """{"k": 1}""", "2024-01-01"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props", "event_date")
      .repartition(1)
      .as[(Long, Timestamp, Long, String, Double, String, String)]
      .map { r => acc.add(1); r }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props", "event_date")
    val r = BatchPipeline.run(spark, raw, out, "2024-01-01")
    assert(r.detailRows == 3) // dup event_id collapsed
    // detail sink + 5 aggregate tables all fan out of the persisted
    // `enriched`: one pass over the 4 raw rows plus the isEmpty probe.
    // Without the persist this is 6 passes = 24+ evaluations.
    assert(acc.value <= 4L + 2L && acc.value >= 4L,
      s"prefix row-evaluations = ${acc.value}, expected one pass (4) + isEmpty probe")
  }

  test("StreamPipeline: fan-out drops malformed rows, merges window updates") {
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[String]
    val enriched = StreamPipeline.decode(stream.toDF().toDF("value"))
    val query = StreamPipeline.startFanOut(enriched, out, ckpt)
    try {
      stream.addData(
        """{"event_id": 1, "ts": "2024-01-01 10:01:00", "user_id": 3, "event_type": "click", "value": 42.0, "props": "{\"k\": 7}"}""",
        """{"event_id": 2, "ts": "2024-01-01 10:02:00", "user_id": 4, "event_type": "purchase", "value": 99.0, "props": "{\"k\": 1}"}""",
        "not json at all")
      query.processAllAvailable()
      val detail = StreamPipeline.readDetail(spark, out)
      assert(detail.count() == 2) // malformed row dropped by validation
      assert(detail.filter($"category" === "Commerce").count() == 1)
      // second micro-batch lands in the same 5-min window: its partials
      // merge with the first batch's on read, not as a second window row
      stream.addData(
        """{"event_id": 3, "ts": "2024-01-01 10:03:00", "user_id": 5, "event_type": "click", "value": 10.0, "props": "{\"k\": 2}"}""")
      query.processAllAvailable()
      val clickRow = graft.streaming.StreamingAggs.finishStats(
        Sinks.readMergedPartials(spark, s"$out/type_stats",
          Seq("window_start", "event_type_clean", "doc_id"), Seq("cnt", "sum_cents", "n_vals")))
        .filter($"event_type_clean" === "CLICK")
        .select("cnt").as[Long].collect().toSeq
      assert(clickRow == Seq(2L), s"expected merged count 2, got $clickRow")
    } finally query.stop()
  }

  test("startFanOut executes the shared enrichment prefix ONCE per micro-batch") {
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    implicit val ctx = spark.sqlContext
    val acc = spark.sparkContext.longAccumulator("prefix-rows")
    val stream = MemoryStream[String]
    // instrument the raw input so every evaluation of the shared prefix
    // (everything upstream of the sinks) bumps the accumulator once per row
    val counted = stream.toDS().map { v => acc.add(1); v }.toDF("value")
    val enriched = StreamPipeline.decode(counted)
    val query = StreamPipeline.startFanOut(enriched, out, ckpt)
    try {
      stream.addData(
        """{"event_id": 1, "ts": "2024-01-01 10:01:00", "user_id": 3, "event_type": "click", "value": 42.0, "props": "{\"k\": 7}"}""",
        """{"event_id": 2, "ts": "2024-01-01 10:02:00", "user_id": 4, "event_type": "purchase", "value": 99.0, "props": "{\"k\": 1}"}""")
      query.processAllAvailable()
      // three sinks (detail + 2 aggregates); without persist the prefix
      // would run 3x = 6 row-evaluations. The cache limits it to one pass.
      assert(acc.value == 2L, s"prefix executed ${acc.value / 2.0}x per batch, expected 1x")
      assert(spark.read.parquet(s"$out/detail").count() == 2)
      // partial states merge to the same numbers tumblingStats would give
      val typeStats = graft.streaming.StreamingAggs.finishStats(
        Sinks.readMergedPartials(spark, s"$out/type_stats",
          Seq("window_start", "event_type_clean", "doc_id"), Seq("cnt", "sum_cents", "n_vals")))
      val clicks = typeStats.filter($"event_type_clean" === "CLICK")
        .select("cnt", "avg_val").as[(Long, Double)].collect().toSeq
      assert(clicks == Seq((1L, 42.0)))
      // a second batch lands as its own __ver partition and merges on read
      stream.addData(
        """{"event_id": 3, "ts": "2024-01-01 10:03:00", "user_id": 5, "event_type": "click", "value": 10.0, "props": "{\"k\": 2}"}""")
      query.processAllAvailable()
      val merged = graft.streaming.StreamingAggs.finishStats(
        Sinks.readMergedPartials(spark, s"$out/type_stats",
          Seq("window_start", "event_type_clean", "doc_id"), Seq("cnt", "sum_cents", "n_vals")))
        .filter($"event_type_clean" === "CLICK")
        .select("cnt", "avg_val").as[(Long, Double)].collect().toSeq
      assert(merged == Seq((2L, 26.0)), s"got $merged") // (42 + 10) / 2
    } finally query.stop()
  }

  test("startFanOut crash-recovery soak: kill mid-stream, restart from checkpoint, replay a batch — all sinks stay exact") {
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[String]
    def ev(id: Long, min: Int, typ: String, v: Double) =
      s"""{"event_id": $id, "ts": "2024-01-01 10:0$min:00", "user_id": 3, "event_type": "$typ", "value": $v, "props": "{\\"k\\": 1}"}"""
    val q1 = StreamPipeline.startFanOut(StreamPipeline.decode(stream.toDF().toDF("value")), out, ckpt)
    try {
      stream.addData(ev(1, 1, "click", 42.0), ev(2, 2, "purchase", 99.0))
      q1.processAllAvailable()
    } finally q1.stop() // "crash": the query dies after committing batch 0
    // restart from the SAME checkpoint with a fresh query over the same source
    val q2 = StreamPipeline.startFanOut(StreamPipeline.decode(stream.toDF().toDF("value")), out, ckpt)
    try {
      stream.addData(ev(3, 3, "click", 10.0))
      q2.processAllAvailable()
    } finally q2.stop()
    // a replayed micro-batch (e.g. foreachBatch ran but the offset commit
    // didn't land before the crash) re-executes with the same batchId:
    // __ver overwrite must keep every sink exact, detail included
    val batch0 = StreamPipeline.decode(
      Seq(ev(1, 1, "click", 42.0), ev(2, 2, "purchase", 99.0)).toDF("value"))
    Sinks.appendVersioned(batch0, s"$out/detail", 0L)
    Sinks.appendVersioned(
      graft.streaming.StreamingAggs.tumblingPartials(batch0, "ts", "5 minutes", Seq("event_type_clean"), "value"),
      s"$out/type_stats", 0L)
    // detail: exactly 3 events, no duplicates from the replay
    val detail = StreamPipeline.readDetail(spark, out)
    assert(detail.count() == 3)
    assert(detail.select("event_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // aggregates: merged partials equal the batch ground truth over all 3 events
    val typeStats = graft.streaming.StreamingAggs.finishStats(
      Sinks.readMergedPartials(spark, s"$out/type_stats",
        Seq("window_start", "event_type_clean", "doc_id"), Seq("cnt", "sum_cents", "n_vals")))
    val byType = typeStats.select("event_type_clean", "cnt", "avg_val")
      .as[(String, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byType == Map("CLICK" -> ((2L, 26.0)), "PURCHASE" -> ((1L, 99.0))), s"got $byType")
  }
}
