package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binned point-in-interval range join — an operator Spark has no built-in
  * physical strategy for.
  *
  * Shape: every INTERVAL row `[lo, hi]` is matched with every POINT row
  * whose timestamp falls inside it (optionally under extra equi-keys, e.g.
  * `user_id`). Declared naively (`join(pt >= lo && pt <= hi)`), Spark
  * executes a BroadcastNestedLoopJoin — O(|intervals| × |points|) per key
  * group, the classic 100 TB scale-killer; with an equi-key it becomes a
  * SortMergeJoin whose per-key group still degenerates quadratically for
  * hot keys (a power user with 10⁶ events compares 10⁶ × 10⁶ pairs).
  *
  * The binned rewrite makes it a plain shuffle equi-join: quantize time
  * into fixed-width bins, explode each interval across every bin it
  * touches, tag each point with its single bin, and equi-join on
  * (keys…, bin) before re-checking the exact predicate. Each
  * (interval, point) candidate pair meets in EXACTLY one bin — the point's
  * unique bin — so the rewrite needs no post-join dedup; the exact filter
  * only discards same-bin near-misses. Cost model: the interval side is
  * replicated `span/binWidth + 1`-fold, so pick `binWidth` on the order of
  * the typical interval span (replication ≤ 2× when spans ≤ binWidth);
  * partitioning is by (keys…, bin), so hot keys are sliced by time — finer
  * than key-only SMJ — and AQE can split residual skew because the join is
  * a standard Exchange, not a nested loop.
  *
  * This is the attribution-window / sensor-enrichment shape of a
  * training-data pipeline (label every impression with the conversions in
  * the following hour).
  */
object RangeJoin {

  /** Exact floor division of a non-nullable long column by a positive
    * literal, sign-correct for pre-epoch timestamps (`DIV` truncates toward
    * zero; floor is what keeps bins aligned across zero). `x - pmod(x, w)`
    * is exact long arithmetic; the final divide of an exact multiple is
    * exact in double for any |micros| < 2⁵³ (year ≈ 2255).
    */
  private def floorDiv(x: Column, w: Long): Column =
    ((x - pmod(x, lit(w))) / lit(w)).cast("long")

  private def micros(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Join `points` into `intervals` where `pt ∈ [lo, hi]` and the equi-keys
    * match, returning all columns of both inputs (internal bin/micros
    * columns dropped). Inner-join semantics: NULL keys and NULL timestamps
    * match nothing, and empty intervals (`lo > hi`) match nothing — exactly
    * the SQL inequality-join contract the DuckDB oracle runs.
    *
    * @param intervals    interval side; `lo`/`hi` name timestamp columns
    * @param points       point side; `pt` names its timestamp column. Column
    *                     names must not overlap the interval side's
    *                     (pre-rename in the caller; asserted here).
    * @param intervalKeys equi-key column names on the interval side
    * @param pointKeys    equi-key column names on the point side (pairwise
    *                     with `intervalKeys`)
    * @param binWidthSec  bin width in seconds; choose ≈ the typical
    *                     interval span (replication factor is
    *                     `span/binWidth + 1`)
    * @param inclusiveLo  `pt >= lo` when true (default), `pt > lo` when not
    * @param inclusiveHi  `pt <= hi` when true (default), `pt < hi` when not
    * @param maxBinsPerInterval hard guard: an interval spanning more bins
    *                     than this fails the job loudly (`raise_error`)
    *                     instead of silently exploding the shuffle —
    *                     a malformed open-ended interval at 100 TB would
    *                     otherwise replicate one row millions of times
    */
  def pointInInterval(
      intervals: DataFrame,
      points: DataFrame,
      intervalKeys: Seq[String],
      pointKeys: Seq[String],
      lo: String,
      hi: String,
      pt: String,
      binWidthSec: Long,
      inclusiveLo: Boolean = true,
      inclusiveHi: Boolean = true,
      maxBinsPerInterval: Int = 1 << 20): DataFrame = {
    require(binWidthSec > 0, s"binWidthSec must be positive, got $binWidthSec")
    require(intervalKeys.length == pointKeys.length,
      s"key arity mismatch: $intervalKeys vs $pointKeys")
    val overlap = intervals.columns.toSet intersect points.columns.toSet
    require(overlap.isEmpty,
      s"interval/point column names overlap (rename one side): $overlap")
    val w = binWidthSec * 1000000L

    // internal names are dropped before returning; `__` prefix keeps them
    // clear of user schemas (same convention as AsOfJoin)
    val jk = intervalKeys.indices.map(i => s"__jk$i")
    val i0 = intervals
      .withColumn("__lo_us", micros(col(lo)))
      .withColumn("__hi_us", micros(col(hi)))
      // empty intervals match nothing, and sequence(a, b) with a > b would
      // otherwise generate a DESCENDING bin range — filter, don't explode
      .filter(col("__lo_us") <= col("__hi_us"))
      .withColumn("__nbins", floorDiv(col("__hi_us"), w) - floorDiv(col("__lo_us"), w) + lit(1L))
      .withColumn("__bin",
        explode(when(col("__nbins") > lit(maxBinsPerInterval.toLong),
            raise_error(concat(lit(s"RangeJoin: interval spans more than $maxBinsPerInterval " +
              s"bins of ${binWidthSec}s — widen binWidthSec or fix the interval: lo="),
              col(lo).cast("string"), lit(" hi="), col(hi).cast("string"))))
          .otherwise(sequence(floorDiv(col("__lo_us"), w), floorDiv(col("__hi_us"), w)))))
      .drop("__nbins")
    val i1 = intervalKeys.zip(jk).foldLeft(i0) { case (df, (k, j)) => df.withColumn(j, col(k)) }

    val p0 = points
      .withColumn("__pt_us", micros(col(pt)))
      .withColumn("__bin", floorDiv(col("__pt_us"), w))
    val p1 = pointKeys.zip(jk).foldLeft(p0) { case (df, (k, j)) => df.withColumn(j, col(k)) }

    val loOk = if (inclusiveLo) col("__pt_us") >= col("__lo_us") else col("__pt_us") > col("__lo_us")
    val hiOk = if (inclusiveHi) col("__pt_us") <= col("__hi_us") else col("__pt_us") < col("__hi_us")
    // using-columns join: no ambiguous-attribute risk when both sides share
    // lineage (self-joins on one table are this operator's common case)
    i1.join(p1, (jk :+ "__bin").toSeq, "inner")
      .filter(loOk && hiOk)
      .drop((jk ++ Seq("__bin", "__lo_us", "__hi_us", "__pt_us")): _*)
  }

  /** Symmetric band self-join: all UNORDERED pairs of `rows` sharing the
    * equi-keys whose timestamps lie within `bandSec` of each other
    * (inclusive) — the near-in-time-pairs shape of event near-dup sweeps
    * and sessionization audits. Composed on [[pointInInterval]]: the
    * interval side expands each row to `[ts − band, ts + band]` and the
    * `idA < idB` filter keeps each pair exactly once (rows with a NULL id
    * pair with nothing, like any join-on-equality column). Output carries
    * both rows' full payloads under `a_`/`b_` prefixes.
    *
    * Scale shape inherits from [[pointInInterval]]: a plain equi-shuffle
    * on (keys…, bin) with ≤ 3× interval-side replication at the default
    * `binWidthSec = bandSec` (span = 2×band). The id-ordering filter also
    * halves the surviving pairs before anything downstream.
    */
  def bandPairs(
      rows: DataFrame,
      keys: Seq[String],
      id: String,
      ts: String,
      bandSec: Long,
      binWidthSec: Long = 0L): DataFrame = {
    require(bandSec >= 0, s"bandSec must be non-negative, got $bandSec")
    val w = if (binWidthSec > 0) binWidthSec else math.max(bandSec, 1L)
    val bandUs = bandSec * 1000000L
    val a = rows.select(rows.columns.map(c => col(c).as(s"a_$c")): _*)
      .withColumn("__alo",
        timestamp_micros(micros(col(s"a_$ts")) - lit(bandUs)))
      .withColumn("__ahi",
        timestamp_micros(micros(col(s"a_$ts")) + lit(bandUs)))
    val b = rows.select(rows.columns.map(c => col(c).as(s"b_$c")): _*)
    pointInInterval(
        a, b,
        intervalKeys = keys.map("a_" + _), pointKeys = keys.map("b_" + _),
        lo = "__alo", hi = "__ahi", pt = s"b_$ts",
        binWidthSec = w)
      .filter(col(s"a_$id") < col(s"b_$id"))
      .drop("__alo", "__ahi")
  }
}
