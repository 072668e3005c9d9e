package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.agg.BatchAggregates
import graft.pipeline.EventsPipeline
import graft.registry._
import graft.sources.Tables

/** Driver contract — see SURVEY.md §7.
  *
  * Every query takes (spark, sfDir), reads the driver parquet tables via
  * [[Tables]], and returns a DETERMINISTIC result: exact DECIMAL sums for
  * money aggregates (no cross-engine float drift), `round(·,4)` on float
  * averages, timestamps formatted to second-precision strings, and a total
  * ORDER BY with tiebreaks. The DuckDB oracles mirror names AND types
  * (casts added where DuckDB's natural type differs from Spark's).
  *
  * Each query is one [[Query]] record in its family's file under
  * `graft/registry/`: builder, oracle and fixtures side by side. The maps
  * below are views over those records.
  */
object SparkEntry {

  /** Every registry record, family by family. Lazy: the family objects
    * are read only once a caller needs the registry.
    */
  private[graft] lazy val registry: Seq[Query] = Query.assemble(
    RelationalQueries.records, TextQueries.records, DedupQueries.records,
    VectorQueries.records, TokenizerQueries.records, LakeQueries.records)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val enriched = EventsPipeline.enrich(Tables.events(spark, "/root/testdata/sf0.001"))
    BatchAggregates.dimensionStats(enriched, Seq("category"), "value", col("is_high_value"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(registry.map(q => q.id -> q.build): _*)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. The MinHash/SimHash/LSH oracles are generated
    * from the same constants as the Spark pipelines (md5-derived hashing is
    * portable); the multimodal oracles predict by formula what a correct
    * container decode must read back, because the encode side keys every
    * decodable property by media_id; the sketch oracle (q39) checks the
    * exact aggregates plus `true` for every in-engine error-bound flag.
    * Every registry query is oracled.
    *
    * The fixture-reading oracles interpolate the SF-SCOPED fixture path,
    * so the map is parameterized by the sfDir the dump ran against
    * ([[oracleSqlFor]]); `Verify` emits `oracleSqlFor(sfDir)`.
    * The driver contract's bare `oracleSql` stays available and targets
    * the driver's correctness SF (sf0.01, TESTDATA.md).
    */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  def oracleSqlFor(dir: String): Map[String, String] =
    Map(registry.map(q => q.id -> q.oracle(dir)): _*)

  /** Pre-build every fixture a registry query reads, so a bench run's
    * first pass times the probe/serve path, not a one-time build (round-8
    * advice: q78's first pass carried its 83.6 s index build). Each
    * helper runs once; a current stamped fixture costs a fingerprint
    * probe. The lakes q61/q65/q71-q74 stamp inline in their queries.
    */
  private[graft] def prebuildFixtures(s: SparkSession, dir: String): Unit =
    Query.fixtures(registry).foreach(_.build(s, dir))
}
