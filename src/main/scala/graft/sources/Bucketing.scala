package graft.sources

import org.apache.spark.sql.SparkSession

/** Bucketed-table layout for co-located fact joins — the catalog-level
  * answer to the one shuffle Catalyst cannot remove on its own: a join of
  * two large tables hash-partitions BOTH sides on the key every time it
  * runs. Bucketing pre-hashes each table into `buckets` files sorted by
  * the key at WRITE time; a join of two tables bucketed+sorted on the same
  * key with the same bucket count is then a SortMergeJoin with NO Exchange
  * and no per-query sort — paid once at layout time, amortized over every
  * subsequent join (PLANS.md "Joins" called this out as the 100 TB path;
  * `BucketedJoinSpec` + `PlanAuditSpec` hold the executable no-Exchange
  * proof, q77 carries the value oracle).
  *
  * Bucket metadata lives in the session CATALOG, not in the parquet files,
  * so each session materializes the tables once via `saveAsTable`
  * (`tableExists` makes every later call within the session free). The
  * bench's min-of-two therefore times the joined READ, with the one-time
  * layout cost visible only in the first pass — the same accounting as the
  * stamped lake fixtures. At 100 TB the equivalent is a real metastore
  * where the layout survives sessions and the write happens once per
  * ingest, not per job.
  */
object Bucketing {

  /** A catalog hit alone is not freshness: the session catalog can outlive
    * the backing files (a fixture-root wipe between calls), and a serve
    * against the surviving entry reads an empty/broken table instead of
    * rebuilding (r15 advice). Trust the entry only when the table's
    * location still holds readable parquet, the [[graft.functions
    * .IndexProtocol]] detection discipline.
    */
  private def freshTable(spark: SparkSession, table: String, path: String): Boolean =
    spark.catalog.tableExists(table) && {
      val fs = graft.functions.IndexProtocol.fileSystem(spark, path)
      graft.functions.IndexProtocol.hasTopLevelParquet(
        fs, new org.apache.hadoop.fs.Path(path))
    }

  /** Bucketed+sorted copies of customer and orders on their join key.
    * Table names and file paths carry the source dir tag AND the bucket
    * count, so an SF switch or a buckets-parameter change lands in fresh
    * tables instead of silently serving a stale layout (the bucket count
    * is a code-resident layout parameter `tableExists` alone cannot see —
    * the same staleness class the IVF/ORC fixture stamps close).
    *
    * @return (ordersTable, customerTable) catalog names
    */
  def ensureCustomerOrders(
      spark: SparkSession,
      dir: String,
      pathRoot: String,
      buckets: Int = 8): (String, String) = {
    val tag = graft.Fixture.tag(dir)
    val o = s"graft_orders_bkt_${tag}_b$buckets"
    val c = s"graft_customer_bkt_${tag}_b$buckets"
    if (!freshTable(spark, o, s"$pathRoot/orders_${tag}_b$buckets"))
      Tables.orders(spark, dir).write
        .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
        .option("path", s"$pathRoot/orders_${tag}_b$buckets")
        .mode("overwrite").format("parquet").saveAsTable(o)
    if (!freshTable(spark, c, s"$pathRoot/customer_${tag}_b$buckets"))
      Tables.customer(spark, dir).write
        .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
        .option("path", s"$pathRoot/customer_${tag}_b$buckets")
        .mode("overwrite").format("parquet").saveAsTable(c)
    (o, c)
  }

  /** Term-bucketed (+term-sorted) copy of a BM25 index's postings table —
    * the layout that turns a probe serve's postings read into a
    * bucket-PRUNED scan ([[graft.functions.Bm25.searchBucketed]]): the
    * probe's literal term filter selects only the buckets holding probed
    * terms, so a serve opens |probe terms| buckets, not the table.
    * `identity` must fingerprint the SOURCE corpus (the caller's fixture
    * stamp ingredients) — it lands in both the catalog name and the file
    * path, so a corpus change or a buckets change builds a fresh layout
    * instead of silently serving a stale one (the ensureCustomerOrders
    * staleness rule, which `tableExists` alone cannot enforce).
    */
  def ensureBm25Postings(
      spark: SparkSession,
      postingsDir: String,
      pathRoot: String,
      identity: String,
      buckets: Int = 16): String = {
    val tag = graft.Fixture.tag(identity)
    val t = s"graft_bm25_postings_${tag}_b$buckets"
    if (!freshTable(spark, t, s"$pathRoot/bm25_postings_${tag}_b$buckets"))
      spark.read.parquet(postingsDir).write
        .bucketBy(buckets, "term").sortBy("term")
        .option("path", s"$pathRoot/bm25_postings_${tag}_b$buckets")
        .mode("overwrite").format("parquet").saveAsTable(t)
    t
  }
}
