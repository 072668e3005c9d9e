package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Raw measurements of one run; run.py turns them into metrics. */
final class Report {
  private val sampleMap = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def samples(name: String): mutable.ArrayBuffer[Double] =
    sampleMap.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
  val setupS = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def setup[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupS(name) = setupS.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = checks(name) = (ok, detail)

  def toJson(rec: Option[Recorder]): String = Json.obj(
    "samples" -> sampleMap.map { case (k, v) => k -> v.toSeq }.toMap,
    "setup_s" -> setupS.toMap,
    "checks" -> checks.map { case (k, (ok, d)) => k -> Map("ok" -> ok, "detail" -> d) }.toMap,
    "attempted" -> attempted, "failed" -> failed,
    "extra" -> extra.toMap,
    "spans" -> rec.map(_.spans.map { case (k, v) => k -> v.toJson }.toMap).getOrElse(Map.empty),
    "input_bytes" -> rec.map(_.inputBytes).getOrElse(0L),
    "output_bytes" -> rec.map(_.outputBytes).getOrElse(0L)).render
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One benchmark process. Sections:
  *   registry | jobs   the timed workload (untraced)
  *   trace             the traced run of `--workload`: for registry, its
  *                     traced passes and the curation loop; for jobs, its
  *                     batch layers and stream, and the batch job at
  *                     local[1] against local[nproc]. Both measure the
  *                     tracing overhead.
  */
object Main {
  def session(master: String, cpus: Int, work: String): SparkSession = {
    val s = GraftSession.builder("perfbench", shufflePartitions = cpus)
      .master(master)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val start = System.nanoTime()
  /** Progress line on stderr (the JVM log run.py prints on failure). */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - start) / 1e9}%.1f s: $what")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val section = opt("section")
    val cpus = opt("cpus").toInt
    val data = opt("data")
    val work = opt("work")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val report = new Report
    var spark = report.setup("session")(session(s"local[$cpus]", cpus, work))
    val rec = new Recorder(spark)
    val queries = opt.getOrElse("queries", "").split(',').filter(_.nonEmpty).toSeq
    val tables = s"$data/tables"
    lazy val jobs = new Jobs(spark, report, rec, s"$data/jobs", work, opt)
    try section match {
      case "registry" =>
        Registry.run(spark, report, tables, queries, seed, seconds, s"$work/verify")
      case "jobs" =>
        jobs.run(seconds)
      case "trace" if opt("workload") == "registry" =>
        // tracing overhead: a traced pass against the mean of the untraced
        // passes right before and right after it, all timed alike
        report.setup("warmup") { Registry.untraced(spark, report, tables, queries) }
        mark("registry warm-up")
        val before = Registry.untraced(spark, report, tables, queries)
        spark.sparkContext.addSparkListener(rec)
        val traced = Registry.traced(spark, report, rec, tables, queries)
        rec.drain()
        spark.sparkContext.removeSparkListener(rec)
        val after = Registry.untraced(spark, report, tables, queries)
        spark.sparkContext.addSparkListener(rec)
        report.samples("overhead_passes") ++= Seq(before, traced, after)
        Registry.tracedDedup(spark, rec, tables)
        mark("registry traced")
        new Curation(spark, report, rec, s"$data/curation", work).traced()
        mark("curation traced")
        rec.drain()
      case "trace" =>
        val par = jobs.traced()
        mark("jobs traced")
        // serial baseline: the same day at local[1], in a new session of
        // this (already warm) JVM, after a warm-up job of its own; neither
        // session has the tracing listener while it is timed
        spark.stop()
        spark = session("local[1]", 1, work)
        jobs.warmBatch(spark)
        report.samples("speedup_pair") ++= Seq(jobs.timedJob(spark, s"$work/serial", jobs.traceDay), par)
        mark("serial baseline")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        report.check(s"$section.run", ok = false, e.toString)
    }
    report.extra("vm_hwm_kb") = vmHwmKb
    report.extra("heap_retained_mb") = retainedHeapMb
    Files.writeString(Paths.get(opt("out")),
      report.toJson(if (section == "trace") Some(rec) else None))
    spark.stop()
  }

  /** Heap still reachable after the workload, after full collections. */
  def retainedHeapMb: Double = {
    val rt = Runtime.getRuntime
    // sleeps let the context cleaner release what each collection freed
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Peak resident set of this JVM (`VmHWM`), in kB. */
  def vmHwmKb: Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong
  }
}
