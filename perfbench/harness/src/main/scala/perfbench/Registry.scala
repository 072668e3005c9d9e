package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.functions.Dedup
import graft.sources.Tables

/** The registry workload: the named `SparkEntry.queries`, closed loop, one
  * client, each materialized through a `noop` write as `graft.Bench` does. */
object Registry {
  type Query = (SparkSession, String) => DataFrame
  /** Seconds one timed pass over the panel takes on a 4-core host. */
  val NominalPassS = 4.0

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Time one query; None when it failed. */
  private def timed(spark: SparkSession, dir: String, q: Query): Option[Double] = {
    val t0 = System.nanoTime()
    try { noop(q(spark, dir)); Some((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => System.err.println(s"[perfbench] query failed: $e"); None }
    finally spark.catalog.clearCache()
  }

  def run(spark: SparkSession, r: Report, dir: String, names: Seq[String], seed: Long,
      seconds: Double, verifyDir: String): Unit = {
    val queries = names.map(n => n -> SparkEntry.queries(n))
    // Warm-up: a first untimed pass builds every write-once fixture and
    // compiles each query's code. It writes each result to parquet for the
    // DuckDB differential run.py does against SparkEntry.oracleSqlFor.
    r.setup("warmup") {
      queries.foreach { case (name, q) =>
        val t0 = System.nanoTime()
        try q(spark, dir).repartition(1).write.mode("overwrite").parquet(s"$verifyDir/$name")
        catch { case e: Throwable => r.check(s"registry.$name", ok = false, e.toString) }
        spark.catalog.clearCache()
        r.samples("warmup_query_s") += (System.nanoTime() - t0) / 1e9
      }
    }
    // two noop passes: before them, each pass is still faster than the one
    // before, as the JIT compiles what the first pass ran
    Main.mark("registry fixtures pass")
    r.setup("warmup")(for (_ <- 0 until 2)
      r.samples("warmup_pass_s") += queries.flatMap { case (_, q) => timed(spark, dir, q) }.sum)
    Main.mark("registry warm-up")
    val oracle = SparkEntry.oracleSqlFor(dir)
    r.extra("verify_dir") = verifyDir
    r.extra("oracle_sql") = names.flatMap(n => oracle.get(n).map(n -> _)).toMap
    val rnd = new scala.util.Random(seed)
    val perQuery = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    // A fixed number of passes, about `seconds` of work: the JIT keeps
    // speeding passes up for minutes, so a time-bound loop would take its
    // median further along that curve on a fast host than on a slow one.
    for (_ <- 0 until math.max(3, math.ceil(seconds / NominalPassS).toInt)) {
      var pass = 0.0
      for ((name, q) <- rnd.shuffle(queries)) {
        r.attempted += 1
        timed(spark, dir, q) match {
          case Some(t) => perQuery(name) += t; pass += t
          case None => r.failed += 1
        }
      }
      r.samples("suite_s") += pass
    }
    Main.mark("registry timed passes")
    // per-query figure: the median of its passes
    perQuery.foreach { case (_, ts) => r.samples("query_s") += Stats.median(ts.toSeq) }
  }

  /** Wall time of one pass over `names`, clearCache included; `exec` runs
    * one query. A failed query fails the check `<tag>.<name>`. */
  def pass(spark: SparkSession, r: Report, tag: String, dir: String, names: Seq[String])(
      exec: Query => Unit): Double = {
    val t0 = System.nanoTime()
    for (n <- names) {
      try exec(SparkEntry.queries(n))
      catch { case e: Throwable => r.check(s"$tag.$n", ok = false, e.toString) }
      finally spark.catalog.clearCache()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** An untraced pass, timed as the traced one is. */
  def untraced(spark: SparkSession, r: Report, dir: String, names: Seq[String]): Double =
    pass(spark, r, "untraced", dir, names)(q => noop(q(spark, dir)))

  /** Traced pass: construction and execution as separate spans. Returns
    * its wall time. */
  def traced(spark: SparkSession, r: Report, rec: Recorder, dir: String,
      names: Seq[String]): Double =
    pass(spark, r, "trace", dir, names) { q =>
      val df = rec.span("SparkEntry.build")(q(spark, dir))
      rec.span("SparkEntry.execute")(noop(df))
    }

  /** The minhash and connected-components layers of q48, called directly. */
  def tracedDedup(spark: SparkSession, rec: Recorder, dir: String): Unit = {
    val docs = Tables.documentsHeavy(spark, dir).cache()
    docs.count()
    val pairs = rec.span("functions.Dedup.minhashCandidates") {
      val p = Dedup.minhashCandidates(docs).cache()
      p.count()
      p
    }
    rec.span("functions.Dedup.duplicateClustersLogN")(noop(Dedup.duplicateClustersLogN(pairs)))
    pairs.unpersist()
    docs.unpersist()
  }
}
