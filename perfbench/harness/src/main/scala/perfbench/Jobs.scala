package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.agg.BatchAggregates
import graft.ops.Cleaning
import graft.pipeline.{BatchPipeline, EventsPipeline, StreamPipeline}
import graft.sinks.Sinks
import graft.streaming.StreamingAggs

/** The jobs workload: the reference's batch job over daily lake partitions
  * into one accumulating output, then its stream job over a file source —
  * a pre-staged backlog first, then an open-loop feeder at a fixed rate.
  *
  * Inputs (written by gen.py): the lake `<in>/lake/event_date=<day>/` and
  * `<in>/feed/part-NNNNN.json`, one wire-JSON event per line. */
final class Jobs(spark: SparkSession, r: Report, rec: Recorder, in: String, work: String,
    opt: Map[String, String]) {
  private val dates = opt("dates").split(',').filter(_.nonEmpty).toSeq
  private val feed = Option(new java.io.File(s"$in/feed").listFiles()).getOrElse(Array.empty)
    .map(_.getPath).sorted.toSeq
  private val perFile = opt("per_file").toInt
  private val backlogFiles = opt("backlog_files").toInt
  private val rate = opt("rate_files_per_s").toDouble
  private val maxFiles = opt("max_files_per_trigger")

  /** Batch phase: one BatchPipeline.run per day until `seconds` have passed
    * (at least `minDays`), all into one output that accumulates. Returns
    * the per-day wall times. */
  def batchPhase(seconds: Double, minDays: Int): Seq[Double] = {
    val out = s"$work/batch_out"
    val done = mutable.ArrayBuffer.empty[String]
    val times = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val it = dates.iterator
    while (it.hasNext && (done.size < minDays || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val d = it.next()
      val t = System.nanoTime()
      r.attempted += 1
      try {
        BatchPipeline.run(spark, s"$in/lake", out, d)
        times += (System.nanoTime() - t) / 1e9
        done += d
      } catch { case e: Throwable => r.failed += 1; System.err.println(s"[perfbench] $d: $e") }
    }
    r.extra("batch_out") = out
    r.extra("batch_dates") = done.toSeq
    times.toSeq
  }

  /** Untimed: one job over the last (smallest) partition compiles the
    * batch job's code before the timed days. */
  def warmBatch(spark: SparkSession = spark): Unit =
    BatchPipeline.run(spark, s"$in/lake", s"$work/batch_warm_${spark.sparkContext.defaultParallelism}", dates.last)

  /** The day the traced run works on. */
  def traceDay: String = dates(dates.size / 2)

  /** Wall time of one batch job over `day` into a fresh output `out`. */
  def timedJob(spark: SparkSession, out: String, day: String): Double = {
    val t0 = System.nanoTime()
    BatchPipeline.run(spark, s"$in/lake", out, day)
    (System.nanoTime() - t0) / 1e9
  }

  /** Copy a feed file into the source directory atomically. */
  private def release(src: String, dir: String): Unit = {
    val name = Paths.get(src).getFileName.toString
    val tmp = Paths.get(s"$work/stream_stage/$name")
    Files.createDirectories(tmp.getParent)
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def rowsSoFar: Double = rec.synchronized(rec.progress.map(_("rows")).sum)

  private def waitRows(target: Double, timeoutS: Double): Boolean = {
    val t0 = System.nanoTime()
    while (rowsSoFar < target && (System.nanoTime() - t0) / 1e9 < timeoutS) Thread.sleep(20)
    rowsSoFar >= target
  }

  /** Stream phase: drain `backlog` pre-staged files, then feed the next
    * files open loop at `rate` files/s for `seconds`. Latency is taken from
    * each file's due time (not its send time) to the commit of the
    * micro-batch that read it. */
  def streamPhase(seconds: Double, backlog: Int, tag: String, check: Boolean = true): Unit = {
    val src = s"$work/${tag}_src"
    val out = s"$work/${tag}_out"
    val ckpt = s"$work/${tag}_ckpt"
    Files.createDirectories(Paths.get(src))
    feed.take(backlog).foreach(release(_, src))
    rec.synchronized(rec.progress.clear())
    spark.streams.addListener(rec.streamListener)
    val raw = spark.readStream.format("text").option("maxFilesPerTrigger", maxFiles).load(src)
    val q = StreamPipeline.startFanOut(StreamPipeline.decode(raw), out, ckpt)
    val due = mutable.LinkedHashMap.empty[String, Long] // file name -> due time (ms)
    val lateMs = mutable.ArrayBuffer.empty[Double]
    try {
      val backlogRows = backlog.toDouble * perFile
      r.check(s"$tag.drain", waitRows(backlogRows, 60), "backlog not drained in 60 s")
      // backlog rows over the time from the first data batch's start to
      // the commit of the batch that read the last backlog row
      val drainBatches = rec.synchronized {
        var acc = 0.0
        val withData = rec.progress.filter(_("rows") > 0)
        withData.take(withData.indexWhere { p => acc += p("rows"); acc >= backlogRows } + 1).toSeq
      }
      r.samples("stream_drain_eps") +=
        backlogRows / ((drainBatches.last("commit_ms") - drainBatches.head("start_ms")) / 1000.0)
      // open loop: file i is due at start + i / rate, whatever the stream does
      val files = feed.drop(backlog).take(math.max(1, (seconds * rate).toInt))
      val start = System.currentTimeMillis() + 200
      val filesBefore = rowsSoFar / perFile
      files.zipWithIndex.foreach { case (f, i) =>
        val d = start + (i * 1000 / rate).toLong
        val wait = d - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMs += (System.currentTimeMillis() - d).toDouble
        release(f, src)
        due(Paths.get(f).getFileName.toString) = d
      }
      val growth = files.size - (rowsSoFar / perFile - filesBefore)
      r.samples("backlog_growth_files") += growth
      r.check(s"$tag.caught_up", waitRows((backlog + files.size).toDouble * perFile, 60),
        "stream did not catch up in 60 s")
    } finally {
      q.stop()
      spark.streams.removeListener(rec.streamListener)
    }
    r.samples("generator_late_ms") ++= lateMs
    // micro-batch -> files, from the file source's own log
    val progress = rec.synchronized(rec.progress.toSeq)
    for (p <- progress) {
      val log = Paths.get(s"$ckpt/fanout/sources/0/${p("batch_id").toLong}")
      if (Files.exists(log)) {
        val names = """"path":"([^"]+)"""".r.findAllMatchIn(Files.readString(log))
          .map(m => m.group(1).split('/').last).toSeq
        val dues = names.flatMap(due.get)
        if (dues.nonEmpty && dues.size == names.size)
          r.samples("stream_latency_s") += (p("commit_ms") - dues.max) / 1000.0
      }
      Seq("addBatch_ms", "queryPlanning_ms", "walCommit_ms").foreach(k => r.samples(k) += p(k))
      if (p("rows") > 0) r.samples("batch_rows") += p("rows")
    }
    if (check) checkStream(src, out, tag)
  }

  /** The merged stream partials must equal the batch path's windowed stats
    * over the same events. */
  private def checkStream(src: String, out: String, tag: String): Unit = {
    val events = StreamPipeline.decode(spark.read.text(src))
    for ((name, len, dim) <- Seq(("type_stats", "5 minutes", "event_type_clean"),
        ("category_stats", "10 minutes", "category"))) {
      val keys = Seq("window_start", dim)
      val merged = StreamingAggs.finishStats(Sinks.readMergedPartials(
        spark, s"$out/$name", keys, Seq("cnt", "sum_cents", "n_vals")))
        .select("window_start", dim, "cnt", "avg_val")
      val expected = StreamingAggs.tumblingStats(events, "ts", len, Seq(dim), "value")
        .select("window_start", dim, "cnt", "avg_val")
      val diff = merged.exceptAll(expected).union(expected.exceptAll(merged)).count()
      r.attempted += 1
      r.check(s"$tag.$name", diff == 0, s"$diff rows differ from the batch path")
    }
  }

  /** Daily batch jobs for `seconds` / 2 (at least two days), then the
    * stream: backlog drain and `seconds` / 2 of open-loop feed. */
  def run(seconds: Double): Unit = {
    r.setup("warmup")(warmBatch())
    Main.mark("jobs warm-up")
    r.samples("batch_s") ++= batchPhase(seconds / 2, minDays = 2)
    Main.mark("jobs batch days")
    streamPhase(seconds / 2, backlogFiles, "stream")
    Main.mark("jobs stream")
  }

  /** Traced run: after a warm-up job, each batch layer materialized from
    * a cached copy of its input, then the whole job, between two untraced
    * runs of the same job for the tracing overhead, then a short stream
    * run. Returns the wall time of the second untraced job, at
    * local[nproc]. */
  def traced(): Double = {
    val d = traceDay
    val out = s"$work/trace_batch"
    r.setup("warmup")(warmBatch())
    val before = timedJob(spark, s"$work/untraced_before", d)
    spark.sparkContext.addSparkListener(rec)
    def pin(df: DataFrame): DataFrame = { val c = df.persist(StorageLevel.MEMORY_AND_DISK); c.count(); c }
    val raw = rec.span("sinks.Sinks.readLakePartition")(
      pin(Sinks.readLakePartition(spark, s"$in/lake", "event_date", d)))
    val deduped = rec.span("ops.Cleaning.dedupByKey")(pin(Cleaning.dedupByKey(raw, Seq("event_id"),
      Seq(col("ts").desc, md5(to_json(struct(raw.columns.map(col).toIndexedSeq: _*))).desc))))
    val enriched = rec.span("pipeline.EventsPipeline.enrich")(
      pin(EventsPipeline.enrich(deduped).withColumn("report_date", lit(d).cast("date"))))
    rec.span("agg.BatchAggregates") {
      Seq(
        BatchAggregates.dimensionStats(enriched, Seq("event_type_clean"), "value", col("is_high_value")),
        BatchAggregates.dimensionStats(enriched, Seq("region", "category"), "value", col("is_high_value")),
        BatchAggregates.percentileStats(enriched, Seq("category"), "value"),
        BatchAggregates.temporalStats(enriched, "dow", "month", "value"),
        BatchAggregates.distribution(enriched, "value_tier", "category"))
        .foreach(_.write.format("noop").mode("overwrite").save())
    }
    rec.span("sinks.Sinks.upsertBatch")(
      Sinks.upsertBatch(enriched, Seq("doc_id"), s"$out/detail", 1L))
    Seq(raw, deduped, enriched).foreach(_.unpersist())
    val tracedS = rec.span("pipeline.BatchPipeline.run")(timedJob(spark, s"$out/job", d))
    rec.drain()
    spark.sparkContext.removeSparkListener(rec)
    val after = timedJob(spark, s"$work/untraced_after", d)
    r.samples("overhead_passes") ++= Seq(before, tracedS, after)
    Main.mark("jobs batch layers")
    spark.sparkContext.addSparkListener(rec)
    // the untraced jobs workload checks the stream's output
    streamPhase(2.0, backlogFiles / 2, "trace_stream", check = false)
    r.extra("files_written") = Seq(s"$out", s"$work/trace_stream_out").map(countDataFiles).sum
    rec.drain()
    spark.sparkContext.removeSparkListener(rec)
    after
  }

  private def countDataFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).filter(f => f.toString.endsWith(".parquet")).count()
  }
}
