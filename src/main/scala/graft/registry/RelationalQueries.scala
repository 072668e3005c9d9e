package graft
package registry

import org.apache.spark.sql.functions._

import graft.agg.BatchAggregates
import graft.functions.ExactAgg
import graft.functions.ExactAgg.{avgExact2dp, avgExactLong, cents}
import graft.functions.ExactAgg.Sql.{avg2dp => sqlAvg2dp, avgLong => sqlAvgLong, cents => sqlCents}
import graft.ops.Cleaning
import graft.pipeline.EventsPipeline
import graft.sources.{Bucketing, Tables}
import graft.streaming.StreamingAggs

/** Relational and event registry queries: TPC-H-shaped scans, joins and
  * rollups, the events enrichment and its aggregates, window, sketch and
  * grouping-set aggregates, the reference's job pipeline, and the range,
  * bucketed and skew-salted joins.
  */
object RelationalQueries {

  /** Shared WHERE clause of the enrichment pipeline's validation filter. */
  private val enrichWhere =
    "event_id IS NOT NULL AND event_type IS NOT NULL AND trim(event_type) <> ''"

  /** Enrichment expressions shared by the q10-q13 oracles (DuckDB dialect).
    * dayofweek: DuckDB is Sunday=0 natively; Spark side uses dayofweek()-1.
    */
  private val oracleK = "CAST(json_extract_string(props, '$.k') AS INTEGER)"
  private val oracleCategory =
    """CASE WHEN regexp_matches(event_type, '(?i)click|view') THEN 'Engagement'
      |     WHEN regexp_matches(event_type, '(?i)purchase') THEN 'Commerce'
      |     WHEN regexp_matches(event_type, '(?i)signup') THEN 'Acquisition'
      |     WHEN regexp_matches(event_type, '(?i)error') THEN 'Reliability'
      |     ELSE 'Other' END""".stripMargin

  // The bucketed orders and customer tables q77 and q80 join (a catalog
  // layout, built once per session).
  private val CustomerOrdersFixture = Prebuild("bucketed_customer_orders", (s, dir) =>
    Bucketing.ensureCustomerOrders(s, dir, s"${Fixture.root}/bucketed"))

  /** This family's registry records: builder, oracle and fixtures. */
  def records: Seq[Query] = Seq(
    // ---- relational core: scan → filter → agg (TPC-H Q1 shape; A1/A2/P6) ----
    // Money sums are emitted as exact BIGINT fixed-point units (cents / e4 /
    // e6) built from integer cents per factor — ep·(1−d) ≡ ep_c·(100−d_c) —
    // so the cross-engine contract is pure int64 with no DECIMAL rendering.
    // Envelope: charge_e6 ≤ ~5e10/row keeps an int64 sum safe to ~10⁸ rows
    // per group; beyond that emit e4 units or pre-aggregate per date.
    Query("q01_pricing_summary", { (s, dir) =>
      val epc = cents(col("l_extendedprice"))
      val dc = cents(col("l_discount"))
      val tc = cents(col("l_tax"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          sum(epc).as("sum_base_price_c"),
          sum(epc * (lit(100) - dc)).as("sum_disc_price_e4"),
          sum(epc * (lit(100) - dc) * (lit(100) + tc)).as("sum_charge_e6"),
          avgExact2dp(col("l_quantity")).as("avg_qty"),
          avgExact2dp(col("l_extendedprice")).as("avg_price"),
          avgExact2dp(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle = _ => s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(${sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c,
         |  CAST(SUM(${sqlCents("l_extendedprice")}) AS BIGINT) AS sum_base_price_c,
         |  CAST(SUM(${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")})) AS BIGINT) AS sum_disc_price_e4,
         |  CAST(SUM(${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")}) * (100 + ${sqlCents("l_tax")})) AS BIGINT) AS sum_charge_e6,
         |  ${sqlAvg2dp("l_quantity")} AS avg_qty,
         |  ${sqlAvg2dp("l_extendedprice")} AS avg_price,
         |  ${sqlAvg2dp("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    // ---- join + agg + top-k (SURVEY §2.7 capability extension) ----
    Query("q02_top_customers", { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          .as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("c_custkey"))
        .limit(10)
    }, oracle = _ => s"""SELECT c_custkey, c_name,
         |  CAST(SUM(${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")})) AS BIGINT) AS revenue_e4
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_custkey, c_name
         |ORDER BY revenue_e4 DESC, c_custkey
         |LIMIT 10""".stripMargin),
    // ---- broadcast dimension join (SURVEY §2.7; explicitly broadcast) ----
    Query("q03_brand_stats", { (s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("cnt"),
          avgExact2dp(col("l_extendedprice")).as("avg_price"),
          sum(cents(col("l_quantity"))).as("sum_qty_c"))
        .orderBy("p_brand")
    }, oracle = _ => s"""SELECT p_brand, COUNT(*) AS cnt, ${sqlAvg2dp("l_extendedprice")} AS avg_price,
         |  CAST(SUM(${sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    // ---- multi-hop dimension join chain ----
    Query("q04_region_revenue", { (s, dir) =>
      Tables.region(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy("r_name")
        .agg(
          count(lit(1)).as("cnt"),
          sum(cents(col("o_totalprice"))).as("revenue_c"))
        .orderBy("r_name")
    }, oracle = _ => s"""SELECT r_name, COUNT(*) AS cnt,
         |  CAST(SUM(${sqlCents("o_totalprice")}) AS BIGINT) AS revenue_c
         |FROM region JOIN nation ON n_regionkey = r_regionkey
         |  JOIN customer ON c_nationkey = n_nationkey
         |  JOIN orders ON o_custkey = c_custkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin),
    // ---- pushdown-friendly filter + global agg (TPC-H Q6 shape; P2/M5) ----
    Query("q05_revenue_filter", { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01") &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(sum(cents(col("l_extendedprice")) * cents(col("l_discount")))
          .as("revenue_e4"))
    }, oracle = _ => s"""SELECT CAST(SUM(${sqlCents("l_extendedprice")} * ${sqlCents("l_discount")}) AS BIGINT) AS revenue_e4
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin),
    // ---- ranking window function: top-N per group ----
    Query("q06_top_parts_per_brand", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc, col("p_partkey"))
      Tables.part(s, dir)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rank")
        .orderBy("p_brand", "rank")
    }, oracle = _ => """SELECT p_brand, p_partkey, p_retailprice, rank FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS rank
        |  FROM part) t
        |WHERE rank <= 3 ORDER BY p_brand, rank""".stripMargin),
    // ---- unionByName of partially-overlapping sources (producer merge, §2.10) ----
    Query("q07_union_kinds", { (s, dir) =>
      val c = Tables.customer(s, dir)
        .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"), lit("customer").as("kind"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_name").as("name"), col("s_acctbal").as("acctbal"), lit("supplier").as("kind"))
      c.unionByName(sup)
        .groupBy("kind")
        .agg(
          count(lit(1)).as("cnt"),
          avgExact2dp(col("acctbal")).as("avg_bal"),
          min(col("acctbal")).as("min_bal"),
          max(col("acctbal")).as("max_bal"))
        .orderBy("kind")
    }, oracle = _ => s"""SELECT kind, COUNT(*) AS cnt, ${sqlAvg2dp("acctbal")} AS avg_bal,
         |  MIN(acctbal) AS min_bal, MAX(acctbal) AS max_bal
         |FROM (
        |  SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
        |  UNION ALL
        |  SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind FROM supplier) u
        |GROUP BY kind ORDER BY kind""".stripMargin),
    // ---- deterministic keyed dedup (P3, latest-wins) ----
    Query("q08_latest_order_per_customer", { (s, dir) =>
      Cleaning.dedupByKey(
          Tables.orders(s, dir),
          Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
        .orderBy("o_custkey")
    }, oracle = _ => """SELECT o_custkey, o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS order_date FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
    // ---- global-mean imputation (A8, deterministic) ----
    Query("q09_impute_global_mean", { (s, dir) =>
      // same plan shape as Features.imputeWithGlobalMean (1-row agg broadcast),
      // but the mean is an exact decimal sum / count so the oracle's double
      // is bit-identical (avg() would drift with partition order)
      val e = Tables.events(s, dir).withColumn("v", when(col("value") >= 10, col("value")))
      val mean = e.agg(avgExact2dp(col("v")).as("__mean"))
      e.crossJoin(broadcast(mean))
        .select(col("event_id"), round(coalesce(col("v"), col("__mean")), 4).as("value_filled"))
        .orderBy("event_id")
    }, oracle = _ => s"""SELECT event_id,
         |  ROUND(COALESCE(CASE WHEN value >= 10 THEN value END,
         |    (SELECT ${sqlAvg2dp("CASE WHEN value >= 10 THEN value END")} FROM events)), 4) AS value_filled
         |FROM events ORDER BY event_id""".stripMargin),
    // ---- reference-parity enrichment pipeline (S4/P2/F5/F7/F8/M4/M5/M6/M8/D4) ----
    Query("q10_events_enrich", { (s, dir) =>
      // The one map-heavy events consumer (JSON decode + regex taxonomy +
      // calendar extracts per row, no aggregation): fan the single-row-group
      // events scan out before the enrich projection (guide §2.5). The
      // agg-bound events consumers (q11-q14…) measured WORSE under fan-out
      // (r17) and keep the pipelined single-task scan — this is per-query
      // opt-in, exactly like documentsHeavy.
      EventsPipeline.enrich(
          Tables.fanOutIfTiny(s, Tables.events(s, dir), s"$dir/events.parquet"))
        .select(
          col("event_id"), col("event_type_clean"), col("category"), col("value_tier"),
          col("region"), col("dow"), col("month"), col("quarter"), col("k"),
          round(col("score"), 4).as("score"), col("is_high_value"), col("doc_id"))
        .orderBy("event_id")
    }, oracle = _ => s"""SELECT event_id,
         |  upper(trim(event_type)) AS event_type_clean,
         |  $oracleCategory AS category,
         |  CASE WHEN value IS NULL THEN 'T0_UNKNOWN' WHEN value < 30 THEN 'T1_LOW'
         |       WHEN value < 60 THEN 'T2_MID' WHEN value < 100 THEN 'T3_HIGH'
         |       ELSE 'T4_TOP' END AS value_tier,
         |  CASE WHEN user_id % 3 = 0 THEN 'North America' WHEN user_id % 3 = 1 THEN 'Europe'
         |       ELSE 'Other' END AS region,
         |  CAST(dayofweek(ts) AS INTEGER) AS dow,
         |  CAST(month(ts) AS INTEGER) AS month,
         |  CAST(quarter(ts) AS INTEGER) AS quarter,
         |  $oracleK AS k,
         |  ROUND(CASE WHEN $oracleK > 0 AND value > 0 THEN value / $oracleK * 100.0 ELSE 0.0 END, 4) AS score,
         |  (value > 100 AND $oracleK < 50) AS is_high_value,
         |  concat_ws('_', upper(trim(event_type)), event_id) AS doc_id
         |FROM events
         |WHERE $enrichWhere
         |ORDER BY event_id""".stripMargin),
    // ---- dimension stats with conditional sum (A2) ----
    Query("q11_type_stats", { (s, dir) =>
      BatchAggregates.dimensionStats(
          EventsPipeline.enrich(Tables.events(s, dir)),
          Seq("event_type_clean"), "value", col("k") % 2 === 0)
        .orderBy("event_type_clean")
    }, oracle = _ => s"""SELECT upper(trim(event_type)) AS event_type_clean,
         |  COUNT(*) AS cnt, ${sqlAvg2dp("value")} AS avg_val,
         |  MIN(value) AS min_val, MAX(value) AS max_val,
         |  CASE WHEN COUNT(value) > 1 THEN floor(sqrt(
         |    CAST(COUNT(value) * SUM(${sqlCents("value")} * ${sqlCents("value")}) - SUM(${sqlCents("value")}) * SUM(${sqlCents("value")}) AS DOUBLE)
         |    / CAST(COUNT(value) * (COUNT(value) - 1) AS DOUBLE)) * 100.0) / 10000.0 END AS stddev_val,
         |  CAST(SUM(CASE WHEN $oracleK % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS flag_cnt
         |FROM events
         |WHERE $enrichWhere
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- temporal stats (A6/D4) ----
    Query("q12_temporal_stats", { (s, dir) =>
      BatchAggregates.temporalStats(
          EventsPipeline.enrich(Tables.events(s, dir)), "dow", "month", "value")
        .orderBy("dow", "month")
    }, oracle = _ => s"""SELECT CAST(dayofweek(ts) AS INTEGER) AS dow, CAST(month(ts) AS INTEGER) AS month,
         |  COUNT(*) AS cnt, ${sqlAvg2dp("value")} AS avg_val
         |FROM events
         |WHERE $enrichWhere
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- exact percentiles per category (A4) ----
    Query("q13_category_percentiles", { (s, dir) =>
      BatchAggregates.percentileStats(
          EventsPipeline.enrich(Tables.events(s, dir)), Seq("category"), "value")
        .orderBy("category")
    }, oracle = _ => s"""SELECT $oracleCategory AS category,
         |  COUNT(*) AS cnt, ${sqlAvg2dp("value")} AS avg_val,
         |  ROUND(quantile_cont(value, 0.25), 4) AS p25,
         |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
         |  ROUND(quantile_cont(value, 0.75), 4) AS p75
         |FROM events
         |WHERE $enrichWhere
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- tumbling-window stats, batch-parity of W4 ----
    Query("q14_hourly_type_stats", { (s, dir) =>
      StreamingAggs.tumblingStats(Tables.events(s, dir), "ts", "1 hour", Seq("event_type"), "value")
        .orderBy("window_start", "event_type")
    }, oracle = _ => s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         |  event_type, COUNT(*) AS cnt, ${sqlAvg2dp("value")} AS avg_val,
         |  concat_ws('_', event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')) AS doc_id
         |FROM events
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- sliding-window counts, batch-parity of W3 ----
    Query("q15_sliding_type_counts", { (s, dir) =>
      StreamingAggs.slidingCounts(Tables.events(s, dir), "ts", "1 hour", "30 minutes", Seq("event_type"))
        .orderBy("window_start", "event_type")
    }, oracle = _ => """WITH w AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws, event_type FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, COUNT(*) AS cnt
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- per-source rollup (§4.1.4 source_stats, declared but never built) ----
    Query("q16_source_stats", { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          avgExactLong(col("n_chars")).as("avg_chars"))
        .orderBy("source")
    }, oracle = _ => s"""SELECT source, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  ${sqlAvgLong("n_chars")} AS avg_chars
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // ---- co-located bucketed fact join: the PLANS.md "Joins" 100 TB path
    // made executable. Orders and customer are bucketed+sorted on custkey
    // at LAYOUT time (Bucketing.ensureCustomerOrders — once per session,
    // the catalog carries the metadata), so the join itself needs no
    // exchange of either side — asserted with broadcast disabled in
    // PlanAuditSpec; this entry carries the value oracle. Revenue in exact
    // cents ----
    // q77: the bucketed layout changes the PLAN, never the values — the
    // oracle is the plain join over the source tables
    Query("q77_bucketed_join", { (s, dir) =>
      val (o, c) = Bucketing.ensureCustomerOrders(s, dir, s"${Fixture.root}/bucketed")
      s.table(o).join(s.table(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("revenue_c"))
        .orderBy("c_mktsegment")
    }, oracle = _ => s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  CAST(SUM(${sqlCents("o_totalprice")}) AS BIGINT) AS revenue_c
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      fixtures = Seq(CustomerOrdersFixture)),
    // ---- the SECOND consumer of q77's bucketed layout — the amortization
    // made executable: the layout is paid once per ingest and every
    // subsequent custkey join rides it exchange-free, so a DIFFERENT
    // query over the same two catalog tables (per-priority stats instead
    // of per-segment revenue) must plan the same zero-Exchange
    // SortMergeJoin and build nothing (ensureCustomerOrders is a catalog
    // hit; `BucketedJoinSpec` asserts the files are untouched) ----
    // q80: same contract as q77 — the reused layout is plan-only
    Query("q80_bucketed_reuse", { (s, dir) =>
      val (o, c) = Bucketing.ensureCustomerOrders(s, dir, s"${Fixture.root}/bucketed")
      s.table(o).join(s.table(c), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_customers"),
          sum(cents(col("c_acctbal"))).as("acctbal_c"))
        .orderBy("o_orderpriority")
    }, oracle = _ => s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  COUNT(DISTINCT c_custkey) AS n_customers,
         |  CAST(SUM(${sqlCents("c_acctbal")}) AS BIGINT) AS acctbal_c
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      fixtures = Seq(CustomerOrdersFixture)),
    // ---- two-source normalization + unionByName merge (§2.10, F1/F2/F3, S8) ----
    Query("q17_source_normalize", { (s, dir) =>
      val a = Tables.orders(s, dir)
        .select(
          col("o_orderkey").cast("string").as("rec_id"),
          concat(lit("$"), col("o_totalprice").cast("decimal(12,2)").cast("string"), lit(" USD")).as("pay_raw"),
          concat(col("o_orderpriority"), lit(", "), col("o_orderstatus")).as("loc"),
          lit("linkedin").as("src"))
        .select(
          col("rec_id"),
          ops.ValueOps.parseMoney(col("pay_raw")).as("pay_usd"),
          trim(split(col("loc"), ",")(0)).as("city"),
          trim(split(col("loc"), ",")(1)).as("state"),
          col("src"))
      val b = Tables.customer(s, dir)
        .select(
          col("c_custkey").cast("string").as("rec_id"),
          col("c_acctbal").as("pay_usd"),
          col("c_mktsegment").as("city"),
          lit("adzuna").as("src"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy("src")
        .agg(
          count(lit(1)).as("cnt"),
          avgExact2dp(col("pay_usd")).as("avg_pay"),
          count(col("state")).as("n_with_state"))
        .orderBy("src")
    }, oracle = _ => s"""SELECT src, COUNT(*) AS cnt, ${sqlAvg2dp("pay_usd")} AS avg_pay,
         |  CAST(COUNT(state) AS BIGINT) AS n_with_state
         |FROM (
        |  SELECT 'linkedin' AS src,
        |    TRY_CAST(regexp_replace(concat('$$', CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), ' USD'), '[^0-9.]', '', 'g') AS DOUBLE) AS pay_usd,
        |    trim(string_split(concat(o_orderpriority, ', ', o_orderstatus), ',')[2]) AS state
        |  FROM orders
        |  UNION ALL
        |  SELECT 'adzuna', c_acctbal, NULL FROM customer) u
        |GROUP BY src ORDER BY src""".stripMargin),
    // ---- declared-schema JSON decode (S4 from_json path) ----
    Query("q18_json_decode", { (s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_id"),
          from_json(col("props"), "k INT", Map.empty[String, String]).getField("k").as("k_decoded"),
          length(col("props")).as("props_len"))
        .orderBy("event_id")
    }, oracle = _ => """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_decoded,
        |  CAST(length(props) AS INTEGER) AS props_len
        |FROM events ORDER BY event_id""".stripMargin),
    // ---- freshness bucketing vs a report date (D3/D6/D7) ----
    Query("q19_freshness", { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("days", datediff(lit("2024-03-01").cast("date"), to_date(col("ts"))))
        .groupBy(ops.Temporal.freshness(col("days")).as("freshness"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("freshness")
    }, oracle = _ => """SELECT CASE WHEN days IS NULL THEN 'Unknown' WHEN days <= 1 THEN 'Fresh'
        |       WHEN days <= 7 THEN 'Recent' WHEN days <= 30 THEN 'Active'
        |       ELSE 'Old' END AS freshness, COUNT(*) AS cnt
        |FROM (SELECT date_diff('day', CAST(ts AS DATE), DATE '2024-03-01') AS days FROM events) t
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- lag window: inter-event gaps per user ----
    Query("q32_user_gaps", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.events(s, dir)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("cnt"),
          count(col("gap")).as("n_gaps"),
          avgExactLong(col("gap")).as("avg_gap_sec"))
        .orderBy("user_id")
    }, oracle = _ => s"""SELECT user_id, COUNT(*) AS cnt, CAST(COUNT(gap) AS BIGINT) AS n_gaps,
         |  ${sqlAvgLong("gap")} AS avg_gap_sec
         |FROM (
        |  SELECT user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |      - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT), 1)
        |        OVER (PARTITION BY user_id ORDER BY event_id) AS gap
        |  FROM events) t
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    // ---- multi-dimensional rollup: CUBE ----
    Query("q33_cube_counts", { (s, dir) =>
      // Pre-aggregate at the cube's finest cell first (guide §2.3, the
      // q114 move): the cube otherwise Expands 4x the full lineitem
      // stream through its partial aggregate; rolling up from the
      // ~6-row (flag, status) pre-aggregate is exact by associativity
      // (BIGINT counts/cents sums) and type-identical (SUM(BIGINT)).
      // One zero row (NULL keys, b_cnt 0, NULL sum) joins the
      // pre-aggregate, so the cube's () set has input even when lineitem
      // is empty: Spark then returns no row at all, DuckDB the () row with
      // COUNT(*) = 0. Elsewhere the zero row adds 0 to a count and nothing
      // to a sum; a group it makes alone has cnt 0 (every real cell counts
      // >= 1) and is filtered out unless it is the () row (gid 3).
      val zero = s.range(1).select(
        lit(null).cast("string").as("l_returnflag"),
        lit(null).cast("string").as("l_linestatus"),
        lit(0L).as("b_cnt"), lit(null).cast("long").as("b_sum_qty_c"))
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("b_cnt"),
          sum(cents(col("l_quantity"))).as("b_sum_qty_c"))
        .unionByName(zero)
        .cube("l_returnflag", "l_linestatus")
        .agg(
          sum(col("b_cnt")).as("cnt"),
          sum(col("b_sum_qty_c")).as("sum_qty_c"),
          grouping_id("l_returnflag", "l_linestatus").as("gid"))
        .filter(col("cnt") > 0 || col("gid") === 3)
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("f"),
          coalesce(col("l_linestatus"), lit("ALL")).as("st"),
          col("cnt"), col("sum_qty_c"))
        .orderBy("f", "st")
    }, oracle = _ => s"""SELECT COALESCE(l_returnflag, 'ALL') AS f, COALESCE(l_linestatus, 'ALL') AS st,
         |  COUNT(*) AS cnt,
         |  CAST(SUM(${sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY f, st""".stripMargin),
    // ---- anti join: customers with no events ----
    Query("q34_inactive_customers", { (s, dir) =>
      val c = Tables.customer(s, dir)
      val e = Tables.events(s, dir)
      c.join(e, col("c_custkey") === col("user_id"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    }, oracle = _ => """SELECT c_mktsegment, COUNT(*) AS cnt FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // ---- exact distinct-count aggregate ----
    Query("q35_distinct_users", { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), countDistinct(col("user_id")).as("users"))
        .orderBy("event_type")
    }, oracle = _ => """SELECT event_type, COUNT(*) AS cnt, COUNT(DISTINCT user_id) AS users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // ---- as-of join: latest order at-or-before each event (AsOfJoin op) ----
    Query("q36_asof_latest_order", { (s, dir) =>
      val ordersDedup = Cleaning.dedupByKey(
        Tables.orders(s, dir),
        Seq("o_custkey", "o_orderdate"),
        Seq(col("o_orderkey").desc))
      ops.AsOfJoin
        .asOf(
          Tables.events(s, dir), ordersDedup,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          payload = Seq("o_orderkey"))
        .select(col("event_id"), coalesce(col("o_orderkey"), lit(-1L)).as("okey"))
        .orderBy("event_id")
    }, oracle = _ => """WITH od AS (
        |  SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS d, o_orderkey FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) t
        |  WHERE rn = 1)
        |SELECT e.event_id, COALESCE(od.o_orderkey, -1) AS okey
        |FROM events e ASOF LEFT JOIN od ON e.user_id = od.o_custkey AND od.d <= e.ts
        |ORDER BY e.event_id""".stripMargin),
    // ---- the reference's FULL job pipeline in the correctness gate:
    // synthesize raw all-string job records from orders, run
    // JobNormalize.normalizeLinkedIn + JobPipeline.enrich, emit the
    // row-level derived columns (every ladder oracle-checked) ----
    Query("q45_job_pipeline", { (s, dir) =>
      val raw = Tables.orders(s, dir).select(
        col("o_orderkey").cast("string").as("job_id"),
        concat(lit("Company"), (col("o_custkey") % 50).cast("string")).as("company_name"),
        when(col("o_orderpriority") === "1-URGENT", "Senior Software Engineer")
          .when(col("o_orderpriority") === "2-HIGH", "Data Analyst")
          .when(col("o_orderpriority") === "3-MEDIUM", "junior ux designer")
          .when(col("o_orderpriority") === "4-NOT SPECIFIED", "sales account manager")
          .otherwise("qa tester").as("title"),
        lit("d").as("description"),
        concat(lit("City"), (col("o_orderkey") % 7).cast("string"), lit(", ST")).as("location"),
        col("o_totalprice").cast("decimal(12,2)").cast("string").as("min_salary"),
        (col("o_totalprice").cast("decimal(12,2)") + 20000).cast("decimal(14,2)").cast("string").as("max_salary"),
        when(col("o_custkey") % 4 === 0, "GBP").otherwise("USD").as("currency"),
        when(col("o_custkey") % 3 === 0, "Full-time")
          .when(col("o_custkey") % 3 === 1, "part-time")
          .otherwise("contract work").as("work_type"),
        lit("wt").as("formatted_work_type"),
        when(col("o_orderkey") % 5 === 0, "Executive").otherwise("").as("formatted_experience_level"),
        when(col("o_orderkey") % 2 === 0, "true").otherwise("false").as("remote_allowed"),
        (unix_timestamp(col("o_orderdate")) * 1000).cast("string").as("listed_time"),
        (col("o_orderkey") % 300).cast("string").as("views"),
        (col("o_orderkey") % 20).cast("string").as("applies"))
      val unified = sources.JobNormalize.normalizeLinkedIn(raw, ingestTs = lit(1.0))
      pipeline.JobPipeline.enrich(unified, "1998-06-01")
        .select(
          col("job_id"), col("company_name_clean"), col("job_category"),
          col("experience_level_final"), col("work_type_clean"), col("salary_category"),
          round(col("salary_avg"), 4).as("salary_avg"),
          round(col("salary_range"), 4).as("salary_range"),
          col("job_freshness"), col("region"),
          round(col("competition_score"), 4).as("competition_score"),
          col("is_high_demand"), col("posted_day_of_week"), col("posted_month"))
        .orderBy(col("job_id").cast("long"))
    }, oracle = _ => """WITH raw AS (
        |  SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS job_id,
        |    concat('Company', CAST(o_custkey % 50 AS VARCHAR)) AS company_name,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 'Senior Software Engineer'
        |         WHEN o_orderpriority = '2-HIGH' THEN 'Data Analyst'
        |         WHEN o_orderpriority = '3-MEDIUM' THEN 'junior ux designer'
        |         WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 'sales account manager'
        |         ELSE 'qa tester' END AS title,
        |    TRY_CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS DOUBLE) AS smin,
        |    TRY_CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 20000 AS DECIMAL(14,2)) AS VARCHAR) AS DOUBLE) AS smax,
        |    CASE WHEN o_custkey % 4 = 0 THEN 'GBP' ELSE 'USD' END AS ccy,
        |    CASE WHEN o_custkey % 3 = 0 THEN 'Full-time' WHEN o_custkey % 3 = 1 THEN 'part-time'
        |         ELSE 'contract work' END AS wt,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'Executive' ELSE '' END AS exp_src,
        |    CAST(o_orderdate AS DATE) AS listed_date,
        |    CAST(o_orderkey % 300 AS INTEGER) AS views,
        |    CAST(o_orderkey % 20 AS INTEGER) AS applies
        |  FROM orders),
        |sal AS (
        |  SELECT *,
        |    CASE WHEN ccy = 'GBP' AND smin_c IS NOT NULL THEN smin_c * 1.27 ELSE smin_c END AS min_usd,
        |    CASE WHEN ccy = 'GBP' AND smax_c IS NOT NULL THEN smax_c * 1.27 ELSE smax_c END AS max_usd
        |  FROM (SELECT *, CASE WHEN smin > 0 THEN smin END AS smin_c,
        |               CASE WHEN smax > 0 THEN smax END AS smax_c FROM raw) t),
        |enr AS (
        |  SELECT *,
        |    CASE WHEN min_usd IS NOT NULL AND max_usd IS NOT NULL THEN (min_usd + max_usd) / 2.0
        |         WHEN min_usd IS NOT NULL THEN min_usd
        |         WHEN max_usd IS NOT NULL THEN max_usd END AS salary_avg_raw,
        |    CASE WHEN min_usd IS NOT NULL AND max_usd IS NOT NULL THEN max_usd - min_usd END AS salary_range_raw,
        |    CASE WHEN regexp_matches(title, '(?i)intern|internship') THEN 'Intern'
        |         WHEN regexp_matches(title, '(?i)junior|jr\.|entry|graduate|associate') THEN 'Junior'
        |         WHEN regexp_matches(title, '(?i)senior|sr\.|lead|principal|staff') THEN 'Senior'
        |         WHEN regexp_matches(title, '(?i)manager|director|head|vp|chief|cto|ceo') THEN 'Manager/Executive'
        |         ELSE 'Mid-Level' END AS exp_derived,
        |    date_diff('day', listed_date, DATE '1998-06-01') AS days_since
        |  FROM sal)
        |SELECT job_id,
        |  upper(trim(company_name)) AS company_name_clean,
        |  CASE WHEN regexp_matches(title, '(?i)software|developer|engineer|programming|backend|frontend|fullstack') THEN 'Software Engineering'
        |       WHEN regexp_matches(title, '(?i)data|analyst|scientist|analytics|bi|business intelligence') THEN 'Data & Analytics'
        |       WHEN regexp_matches(title, '(?i)manager|management|director|product manager') THEN 'Management'
        |       WHEN regexp_matches(title, '(?i)marketing|social media|seo|content|digital marketing') THEN 'Marketing'
        |       WHEN regexp_matches(title, '(?i)sales|account|business development') THEN 'Sales'
        |       WHEN regexp_matches(title, '(?i)design|designer|ux|ui|graphic') THEN 'Design'
        |       WHEN regexp_matches(title, '(?i)devops|cloud|infrastructure|sre') THEN 'DevOps/Cloud'
        |       WHEN regexp_matches(title, '(?i)qa|quality|test|tester') THEN 'QA/Testing'
        |       WHEN regexp_matches(title, '(?i)hr|human resource|recruiter') THEN 'Human Resources'
        |       ELSE 'Other' END AS job_category,
        |  CASE WHEN exp_src IS NOT NULL AND exp_src <> 'Not Specified' AND trim(exp_src) <> ''
        |       THEN exp_src ELSE exp_derived END AS experience_level_final,
        |  CASE WHEN regexp_matches(wt, '(?i)full') THEN 'FULL_TIME'
        |       WHEN regexp_matches(wt, '(?i)part') THEN 'PART_TIME'
        |       WHEN regexp_matches(wt, '(?i)contract') THEN 'CONTRACT'
        |       WHEN regexp_matches(wt, '(?i)temporary') THEN 'TEMPORARY'
        |       ELSE 'Other' END AS work_type_clean,
        |  CASE WHEN salary_avg_raw IS NULL THEN 'Not Specified'
        |       WHEN salary_avg_raw < 30000 THEN 'Entry Level'
        |       WHEN salary_avg_raw < 60000 THEN 'Mid Level'
        |       WHEN salary_avg_raw < 100000 THEN 'Senior Level'
        |       ELSE 'Executive Level' END AS salary_category,
        |  ROUND(salary_avg_raw, 4) AS salary_avg,
        |  ROUND(salary_range_raw, 4) AS salary_range,
        |  CASE WHEN days_since <= 1 THEN 'Fresh (< 24h)'
        |       WHEN days_since <= 7 THEN 'Recent (1-7 days)'
        |       WHEN days_since <= 30 THEN 'Active (1-4 weeks)'
        |       ELSE 'Old (> 30 days)' END AS job_freshness,
        |  'North America' AS region,
        |  ROUND(CASE WHEN views > 0 AND applies > 0
        |        THEN CAST(applies AS DOUBLE) / CAST(views AS DOUBLE) * 100.0 ELSE 0.0 END, 4) AS competition_score,
        |  (views > 100 AND (CASE WHEN views > 0 AND applies > 0
        |        THEN CAST(applies AS DOUBLE) / CAST(views AS DOUBLE) * 100.0 ELSE 0.0 END) < 5) AS is_high_demand,
        |  CAST(dayofweek(listed_date) + 1 AS INTEGER) AS posted_day_of_week,
        |  CAST(month(listed_date) AS INTEGER) AS posted_month
        |FROM enr ORDER BY CAST(job_id AS BIGINT)""".stripMargin),
    // ---- the six-table aggregate fan-out shape on the same pipeline (count-only; A7) ----
    Query("q46_salary_distribution", { (s, dir) =>
      val raw = Tables.orders(s, dir).select(
        col("o_orderkey").cast("string").as("job_id"),
        concat(lit("Company"), (col("o_custkey") % 50).cast("string")).as("company_name"),
        when(col("o_orderpriority") === "1-URGENT", "Senior Software Engineer")
          .when(col("o_orderpriority") === "2-HIGH", "Data Analyst")
          .when(col("o_orderpriority") === "3-MEDIUM", "junior ux designer")
          .when(col("o_orderpriority") === "4-NOT SPECIFIED", "sales account manager")
          .otherwise("qa tester").as("title"),
        lit("d").as("description"),
        lit("City, ST").as("location"),
        col("o_totalprice").cast("decimal(12,2)").cast("string").as("min_salary"),
        (col("o_totalprice").cast("decimal(12,2)") + 20000).cast("decimal(14,2)").cast("string").as("max_salary"),
        when(col("o_custkey") % 4 === 0, "GBP").otherwise("USD").as("currency"),
        lit("Full-time").as("work_type"),
        lit("wt").as("formatted_work_type"),
        lit("").as("formatted_experience_level"),
        lit("false").as("remote_allowed"),
        (unix_timestamp(col("o_orderdate")) * 1000).cast("string").as("listed_time"),
        lit("0").as("views"),
        lit("0").as("applies"))
      val enriched = pipeline.JobPipeline.enrich(
        sources.JobNormalize.normalizeLinkedIn(raw, ingestTs = lit(1.0)), "1998-06-01")
      pipeline.JobPipeline.aggregates(enriched)("salary_distribution")
        .orderBy("salary_category", "job_category")
    }, oracle = _ => """WITH raw AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS job_id,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 'Senior Software Engineer'
        |         WHEN o_orderpriority = '2-HIGH' THEN 'Data Analyst'
        |         WHEN o_orderpriority = '3-MEDIUM' THEN 'junior ux designer'
        |         WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 'sales account manager'
        |         ELSE 'qa tester' END AS title,
        |    TRY_CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS DOUBLE) AS smin,
        |    TRY_CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 20000 AS DECIMAL(14,2)) AS VARCHAR) AS DOUBLE) AS smax,
        |    CASE WHEN o_custkey % 4 = 0 THEN 'GBP' ELSE 'USD' END AS ccy
        |  FROM orders),
        |sal AS (
        |  SELECT *,
        |    CASE WHEN ccy = 'GBP' AND smin_c IS NOT NULL THEN smin_c * 1.27 ELSE smin_c END AS min_usd,
        |    CASE WHEN ccy = 'GBP' AND smax_c IS NOT NULL THEN smax_c * 1.27 ELSE smax_c END AS max_usd
        |  FROM (SELECT *, CASE WHEN smin > 0 THEN smin END AS smin_c,
        |               CASE WHEN smax > 0 THEN smax END AS smax_c FROM raw) t),
        |enr AS (
        |  SELECT job_id, title,
        |    CASE WHEN min_usd IS NOT NULL AND max_usd IS NOT NULL THEN (min_usd + max_usd) / 2.0
        |         WHEN min_usd IS NOT NULL THEN min_usd
        |         WHEN max_usd IS NOT NULL THEN max_usd END AS salary_avg
        |  FROM sal)
        |SELECT
        |  CASE WHEN salary_avg IS NULL THEN 'Not Specified'
        |       WHEN salary_avg < 30000 THEN 'Entry Level'
        |       WHEN salary_avg < 60000 THEN 'Mid Level'
        |       WHEN salary_avg < 100000 THEN 'Senior Level'
        |       ELSE 'Executive Level' END AS salary_category,
        |  CASE WHEN regexp_matches(title, '(?i)software|developer|engineer|programming|backend|frontend|fullstack') THEN 'Software Engineering'
        |       WHEN regexp_matches(title, '(?i)data|analyst|scientist|analytics|bi|business intelligence') THEN 'Data & Analytics'
        |       WHEN regexp_matches(title, '(?i)manager|management|director|product manager') THEN 'Management'
        |       WHEN regexp_matches(title, '(?i)marketing|social media|seo|content|digital marketing') THEN 'Marketing'
        |       WHEN regexp_matches(title, '(?i)sales|account|business development') THEN 'Sales'
        |       WHEN regexp_matches(title, '(?i)design|designer|ux|ui|graphic') THEN 'Design'
        |       WHEN regexp_matches(title, '(?i)devops|cloud|infrastructure|sre') THEN 'DevOps/Cloud'
        |       WHEN regexp_matches(title, '(?i)qa|quality|test|tester') THEN 'QA/Testing'
        |       WHEN regexp_matches(title, '(?i)hr|human resource|recruiter') THEN 'Human Resources'
        |       ELSE 'Other' END AS job_category,
        |  COUNT(job_id) AS job_count
        |FROM enr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- pivot/crosstab: event-type counts by day-of-week ----
    Query("q44_pivot_counts", { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("dow", ops.Temporal.dayOfWeekSun0(col("ts")))
        .groupBy("dow")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("dow")
    }, oracle = _ => """SELECT CAST(dayofweek(ts) AS INTEGER) AS dow,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- sketch aggregates: HLL distinct + approx percentile (mergeable
    // sketches, the 100 TB path) — with a TESTABLE contract: the sketch VALUES
    // are engine-internal (HLL register layout, GK quantile summary) and
    // can never hash-match another engine — but a sketch's actual promise
    // is bounded error against the exact answer, and THAT is oracle-able.
    // Emit the exact aggregates (DuckDB-checkable) plus in-engine booleans
    // asserting each sketch landed inside its documented bound; the oracle
    // predicts the exact values and `true` for every bound ----
    // sketch values are engine-internal; the oracle checks what a sketch
    // actually promises — the exact baseline, and bounded error against it
    Query("q39_sketch_stats", { (s, dir) =>
      // the GATE carries exact count-distinct/percentile baselines BY
      // DESIGN (q60 is the production shape); the baselines run on a
      // deterministic quarter-slice — the sketch-vs-exact assertion is
      // just as binding there, at a quarter of the exact side's cost
      // (round-11 verdict #9)
      Tables.events(s, dir)
        .filter(col("event_id") % 4 === 0)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id")).as("__approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("__p50_approx"),
          // ONE exact-percentile aggregate for both band edges — two
          // separate percentile() calls each build their own value
          // histogram over the group (measured 2× the aggregate cost)
          expr("percentile(value, array(0.45, 0.55))").as("__p_band"))
        .select(
          col("event_type"),
          col("exact_users"),
          // HLL default rsd 0.05; 0.15 is an empirical 3-sigma margin —
          // a future SF/data change could trip it, by design (that IS the
          // sketch contract being asserted). Flags are int64 0/1, not
          // BOOLEAN: the round-1 postmortem showed the driver's hasher
          // canonicalizing non-int64 output types differently than local
          // DuckDB, and int64 is the proven-safe envelope. coalesce → 0:
          // a group whose value column is entirely NULL makes percentile/
          // percentile_approx (and therefore the flag) NULL — that must
          // fail LOUDLY as a 0-flag against the oracle's 1, not as a
          // confusing null-vs-1 type mismatch.
          coalesce(
            (abs(col("__approx_users") - col("exact_users"))
              <= col("exact_users") * 0.15).cast("long"),
            lit(0L)).as("users_ok"),
          // the GK sketch's guarantee is on RANK error (<= n/10000 at
          // accuracy 10000), not value error — a value tolerance would
          // fail on gap-y distributions where adjacent ranks are far
          // apart. Assert the rank contract: the approx median must lie
          // within the exact [p45, p55] band, 500x the sketch's bound.
          coalesce(
            col("__p50_approx")
              .between(col("__p_band").getItem(0), col("__p_band").getItem(1))
              .cast("long"),
            lit(0L)).as("p50_ok"))
        .orderBy("event_type")
    }, oracle = _ => """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(1 AS BIGINT) AS users_ok, CAST(1 AS BIGINT) AS p50_ok
        |FROM events WHERE event_id % 4 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // ---- q39's PRODUCTION sibling: the same mergeable sketches WITHOUT
    // the exact countDistinct/percentile baselines q39 carries to be
    // oracle-able. q39 is the correctness gate (its flags pin the sketch
    // error bounds); this is the shape a 100 TB run actually executes, so
    // the bench times it separately. The flags here are cheap-envelope
    // sanity checks (count/min/max are mergeable and near-free next to
    // the HLL and GK sketches they guard), deterministically 1 for any
    // correct sketch, so the query stays hash-oracle-able without exact
    // distinct-count or percentile work ----
    // q60: the flags are deterministic for ANY correct sketch (estimate in
    // [1, n_rows]; median inside [min, max]) — the oracle predicts them
    // exactly, including the degenerate all-NULL-group case where the
    // Spark side coalesces the NULL flag to a loud 0
    Query("q60_sketch_production", { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_rows"),
          approx_count_distinct(col("user_id")).as("__approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("__p50"),
          min(col("value")).as("__lo"),
          max(col("value")).as("__hi"))
        .select(
          col("event_type"),
          col("n_rows"),
          // lower bound (>= 1 when any non-null user exists) is exact for
          // any correct sketch; the UPPER bound is an envelope, not a hard
          // invariant — a correct HLL at rsd 0.05 can legitimately estimate
          // ABOVE the true distinct count, and a near-unique-per-row group
          // puts the true count at ~n_rows, so `<= n_rows` could flip on a
          // correct sketch. 1.3 × n_rows is ~6 sigma of headroom.
          coalesce(
            (col("__approx_users") >= 1L &&
              col("__approx_users") <= col("n_rows") * 1.3).cast("long"),
            lit(0L)).as("users_ok"),
          coalesce(
            col("__p50").between(col("__lo"), col("__hi")).cast("long"),
            lit(0L)).as("p50_ok"))
        .orderBy("event_type")
    }, oracle = _ => """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(CASE WHEN COUNT(user_id) > 0 THEN 1 ELSE 0 END AS BIGINT) AS users_ok,
        |  CAST(CASE WHEN COUNT(value) > 0 THEN 1 ELSE 0 END AS BIGINT) AS p50_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // ---- gap-based session windows (session_window, batch parity) ----
    // Spark session_window semantics: a new session starts when the gap to
    // the previous event is >= the gap duration (window end = last + gap,
    // exclusive). The lag/accumulate windows order by (ts, event_id) —
    // session_window merges purely on event-time order, so ordering the
    // oracle by event_id alone would silently assume ts is monotone in
    // event_id per user.
    Query("q40_session_windows", { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    }, oracle = _ => """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),
    // ---- binned range join (RangeJoin op): 30-minute click→purchase
    // attribution. Every purchase counts the same user's clicks in the
    // half-open window [ts − 30 min, ts) — the inequality-join shape that
    // nested-loops at scale unless binned into a plain equi-join on
    // (user, bin). Purchases with no preceding click are kept at 0 so the
    // output is one row per purchase (deterministic row count) ----
    // q87: the range join stated as the plain SQL inequality join the
    // binned rewrite must be indistinguishable from (COUNT(c.ts) counts
    // only matched clicks, so unmatched purchases report 0)
    Query("q87_attribution_window", { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("lo", col("ts") - expr("INTERVAL 30 MINUTES"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val matched = ops.RangeJoin.pointInInterval(
        purchases, clicks,
        intervalKeys = Seq("user_id"), pointKeys = Seq("c_user"),
        lo = "lo", hi = "ts", pt = "c_ts",
        binWidthSec = 1800, inclusiveLo = true, inclusiveHi = false)
      val counts = matched.groupBy("event_id")
        .agg(count(lit(1)).as("clicks_30m"))
      // fresh scan (new attribute ids) for the zero-fill left join, so the
      // shared-lineage self-join ambiguity never arises
      Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"))
        .join(counts, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("clicks_30m"), lit(0L)).as("clicks_30m"))
        .orderBy("event_id")
    }, oracle = _ => """SELECT p.event_id AS event_id, p.user_id AS user_id,
        |  CAST(COUNT(c.ts) AS BIGINT) AS clicks_30m
        |FROM events p
        |LEFT JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1, 2
        |ORDER BY 1""".stripMargin),
    // ---- symmetric band self-join (RangeJoin.bandPairs): unordered pairs
    // of same-customer orders placed within 7 days of each other — the
    // near-in-time audit shape (burst ordering, duplicate submissions).
    // gap_days is signed (b relative to a under a_key < b_key ordering) ----
    // q88: the band self-join stated as the plain SQL inequality self-join
    // (BETWEEN is inclusive both ends, matching bandPairs)
    Query("q88_order_band_pairs", { (s, dir) =>
      ops.RangeJoin.bandPairs(
          Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate"),
          keys = Seq("o_custkey"), id = "o_orderkey", ts = "o_orderdate",
          bandSec = 7L * 86400L)
        .select(col("a_o_custkey").as("custkey"),
          col("a_o_orderkey").as("a_key"), col("b_o_orderkey").as("b_key"),
          datediff(col("b_o_orderdate"), col("a_o_orderdate")).cast("long").as("gap_days"))
        .orderBy("custkey", "a_key", "b_key")
    }, oracle = _ => """SELECT a.o_custkey AS custkey, a.o_orderkey AS a_key,
        |  b.o_orderkey AS b_key,
        |  CAST(datediff('day', a.o_orderdate, b.o_orderdate) AS BIGINT) AS gap_days
        |FROM orders a
        |JOIN orders b
        |  ON b.o_custkey = a.o_custkey
        | AND b.o_orderdate BETWEEN a.o_orderdate - INTERVAL 7 DAY
        |                       AND a.o_orderdate + INTERVAL 7 DAY
        | AND a.o_orderkey < b.o_orderkey
        |ORDER BY 1, 2, 3""".stripMargin),
    // ---- Catalyst optimizer rule (plans/RangeJoinRewrite): the SAME
    // inequality-join SQL a reference user would write, executed on a child
    // session with spark.graft.rangeJoin.binWidthSec set — the rule rewrites
    // the logical join into the binned equi-join (PlanAuditSpec pins the
    // shape), so the query text never changes. Purchase←click pairs with
    // their gap in seconds ----
    // q89: the same inequality join in DuckDB's dialect (epoch_us for
    // unix_micros; both gaps are positive so // truncation == floor)
    Query("q89_sql_range_join", { (s, dir) =>
      val s2 = s.newSession()
      s2.conf.set(plans.RangeJoinRewrite.WidthConf, "1800")
      Tables.events(s2, dir).createOrReplaceTempView("ev")
      s2.sql("""SELECT p.event_id AS p_event, c.event_id AS c_event,
        |  CAST((unix_micros(p.ts) - unix_micros(c.ts)) DIV 1000000 AS BIGINT) AS gap_sec
        |FROM ev p JOIN ev c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 30 MINUTES AND c.ts < p.ts
        |ORDER BY p_event, c_event""".stripMargin)
    }, oracle = _ => """SELECT p.event_id AS p_event, c.event_id AS c_event,
        |  CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT) AS gap_sec
        |FROM events p
        |JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
        |ORDER BY 1, 2""".stripMargin),
    // ---- multi-dimensional agg matrix, final flavor (round-12 verdict
    // #9): GROUPING SETS with a mixed set list — the (flag, status)
    // rollup chain PLUS an independent (shipmode) set and the grand
    // total, i.e. neither a cube (q33) nor a pure rollup, so the Expand
    // planning is exercised on an irregular lattice. grouping() flags
    // disambiguate set membership in the output (and are themselves
    // gated). SQL text matches what a reference user would write; the
    // cents arithmetic is the SAME generated string on both engines ----
    // q114: the identical GROUPING SETS statement (mixed-lattice set
    // list), grouping() flags and all; the cents string is generated by
    // the same module on both sides
    Query("q114_grouping_sets", { (s, dir) =>
      val s2 = s.newSession()
      Tables.lineitem(s2, dir)
        .withColumn("l_shipmonth", date_format(col("l_shipdate"), "yyyy-MM"))
        .createOrReplaceTempView("li")
      // Partial-aggregate FIRST at the sets' common refinement (guide
      // §2.3, r18): Spark plans GROUPING SETS as Expand×|sets| over the
      // BASE rows — 4x the full lineitem stream through the partial
      // aggregate. Rolling the sets up from the (flag, status, month)
      // pre-aggregate instead expands ~500 intermediate rows, not 4×600k.
      // Results are identical by associativity: COUNT(*) == SUM of
      // refinement counts, SUM == SUM of refinement sums (exact BIGINT
      // cents — no float reassociation), every set in the list is a
      // coarsening of the refinement, and a NULL DATA value stays a
      // grouped value (grouping() = 0) in both forms. Types unchanged
      // (SUM(BIGINT) = BIGINT). The oracle still states the single
      // GROUPING SETS pass — same rows, hash-verified. The zero row in
      // `base` keeps the () row over an empty lineitem, as in q33; HAVING
      // drops any other group it makes alone.
      s2.sql(
        s"""WITH base AS (
           |  SELECT l_returnflag, l_linestatus, l_shipmonth,
           |    COUNT(*) AS b_cnt,
           |    SUM(${ExactAgg.Sql.cents("l_quantity")}) AS b_sum_qty_c
           |  FROM li
           |  GROUP BY l_returnflag, l_linestatus, l_shipmonth
           |  UNION ALL
           |  SELECT NULL, NULL, NULL, 0L, CAST(NULL AS BIGINT))
           |SELECT COALESCE(l_returnflag, 'ALL') AS f,
           |  COALESCE(l_linestatus, 'ALL') AS st,
           |  COALESCE(l_shipmonth, 'ALL') AS sm,
           |  CAST(grouping(l_returnflag) AS BIGINT) AS gf,
           |  CAST(grouping(l_linestatus) AS BIGINT) AS gst,
           |  CAST(grouping(l_shipmonth) AS BIGINT) AS gsm,
           |  SUM(b_cnt) AS cnt,
           |  SUM(b_sum_qty_c) AS sum_qty_c
           |FROM base
           |GROUP BY GROUPING SETS (
           |  (l_returnflag, l_linestatus), (l_returnflag), (l_shipmonth), ())
           |HAVING SUM(b_cnt) > 0 OR grouping_id() = 7
           |ORDER BY gf, gst, gsm, f, st, sm""".stripMargin)
    }, oracle = _ => s"""WITH li AS (
         |  SELECT *, strftime(l_shipdate, '%Y-%m') AS l_shipmonth FROM lineitem)
         |SELECT COALESCE(l_returnflag, 'ALL') AS f,
         |  COALESCE(l_linestatus, 'ALL') AS st,
         |  COALESCE(l_shipmonth, 'ALL') AS sm,
         |  CAST(grouping(l_returnflag) AS BIGINT) AS gf,
         |  CAST(grouping(l_linestatus) AS BIGINT) AS gst,
         |  CAST(grouping(l_shipmonth) AS BIGINT) AS gsm,
         |  COUNT(*) AS cnt,
         |  CAST(SUM(${ExactAgg.Sql.cents("l_quantity")}) AS BIGINT) AS sum_qty_c
         |FROM li
         |GROUP BY GROUPING SETS (
         |  (l_returnflag, l_linestatus), (l_returnflag), (l_shipmonth), ())
         |ORDER BY gf, gst, gsm, f, st, sm""".stripMargin),
    // ---- skewed-join hardening (round-13 verdict #6): a deliberately
    // skewed fact key (30% of docs on one company — the reference-analog
    // dimension skew) joined through ops.SkewJoin.saltedJoin, which
    // splits the hot key across 16 tasks STRUCTURALLY (dim replicated
    // per salt, fact salt drawn from the row id) instead of relying on
    // AQE's runtime size thresholds. Row-identical to the plain join by
    // construction — which is exactly what the oracle checks (DuckDB
    // joins without any salt); SkewJoinSpec pins the salted exchanges
    // and the 16-way hot-key spread under no-broadcast ----
    // q118: the plain (salt-free) join — salting must be invisible in
    // the result; dim re-derived from the same formulas
    Query("q118_skew_salted_join", { (s, dir) =>
      val d = col("doc_id")
      val facts = Tables.documents(s, dir).select(d.as("doc_id"),
        when(d % 10 < 3, "MEGACORP")
          .otherwise(concat(lit("co_"), (d % 50).cast("string"))).as("company"),
        col("n_chars"))
      val dim = s.range(50).select(
          concat(lit("co_"), col("id").cast("string")).as("company"),
          (col("id") % 7).as("region"))
        .unionByName(s.range(1).select(
          lit("MEGACORP").as("company"), lit(9L).as("region")))
      graft.ops.SkewJoin.saltedJoin(facts, dim, "company",
          saltFrom = col("doc_id"), salts = 16)
        .select("doc_id", "company", "region", "n_chars")
        .orderBy("doc_id")
    }, oracle = _ => s"""WITH f AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 < 3 THEN 'MEGACORP'
         |         ELSE 'co_' || CAST(doc_id % 50 AS VARCHAR) END AS company,
         |    n_chars
         |  FROM documents),
         |d AS (
         |  SELECT 'co_' || CAST(i AS VARCHAR) AS company,
         |    CAST(i % 7 AS BIGINT) AS region
         |  FROM range(0, 50) AS t(i)
         |  UNION ALL
         |  SELECT 'MEGACORP', CAST(9 AS BIGINT))
         |SELECT f.doc_id, f.company, d.region, f.n_chars
         |FROM f JOIN d USING (company)
         |ORDER BY doc_id""".stripMargin)
  )
}
