package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** JSON string escaping shared by the harness mains ([[Verify]], [[Bench]]):
  * backslash, quote, and ALL control chars (<0x20) — a tab or CR in a
  * builder-authored string would otherwise make the driver's `json.load`
  * fail and silently zero the round's evidence.
  */
private[graft] object Jsons {
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the engine's own session defaults (UTC, AQE, codegen field cap), so
    // the correctness dump runs the same engine the benchmarks run
    val spark = GraftSession.builder("graft-verify", shufflePartitions = cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val censuses = scala.collection.mutable.Map.empty[String, Map[String, Int]]
    SparkEntry.queries.foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce propagates up the narrow
      // plan and runs shuffle-free (map-only) queries single-threaded end
      // to end — core-count × slower at larger SFs; repartition keeps the
      // upstream parallel and still lands one file per query (review
      // finding)
      try {
        val df = fn(spark, sfDir)
        // operator census of the UNEXECUTED plan (before the repartition
        // wrapper), so the round artifacts record each query's plan shape
        // at this SF — diffable round-over-round next to the bench numbers
        censuses(name) = plans.PlanCensus.census(df)
        df.repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same hygiene as Bench: queries that persist a finished result
      // before the presentation sort (orderedOnce) must not hold blocks
      // across the dump's 125 queries
      spark.catalog.clearCache()
    }
    // `_`-prefixed → invisible to the driver's query globs (q79-diag pattern)
    try Files.writeString(Paths.get(s"$outDir/_plan_census.json"),
      plans.PlanCensus.toJson(censuses.toMap))
    catch { case e: Throwable =>
      System.err.println(s"[verify] plan census failed: ${e.getMessage}")
    }
    // q79 diagnostic sidecar (round-9 verdict): fixture stamp + per-cell
    // sizes + raw recall, so any driver-side hash mismatch is attributable
    // in one read. `_`-prefixed → invisible to the driver's query globs.
    try Files.writeString(Paths.get(s"$outDir/_q79_diag.json"),
      registry.VectorQueries.q79Diagnostics(spark, sfDir))
    catch { case e: Throwable =>
      System.err.println(s"[verify] q79 diag failed: ${e.getMessage}")
    }
    // SF-parameterized: fixture-reading oracles (q47/q79) must point at the
    // fixtures THIS dump built for THIS sfDir, not another phase's.
    // Escaping via the shared [[Jsons.q]].
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${Jsons.q(k)}: ${Jsons.q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
