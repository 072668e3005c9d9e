package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — an operator Spark has no built-in for.
  *
  * For every left row, attach the payload of the single right row with the
  * greatest `rightTime <= leftTime` within the same key. Composed from
  * built-ins per the preference order in the build brief: tag both sides,
  * `unionByName`, one window pass with `last(_, ignoreNulls)` over
  * (key, time) — i.e. ONE shuffle on the key and a per-partition sort,
  * instead of the naive range join whose equi-key × time-range explosion is
  * quadratic in key frequency. This is the classic streaming-backfill /
  * point-in-time-feature shape used in training-data pipelines.
  */
object AsOfJoin {

  /** @param payload right-side columns to carry onto left rows (null when no
    *                right row precedes the left row's time).
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      payload: Seq[String]): DataFrame = {
    val l = left
      .withColumn("__k", col(leftKey))
      .withColumn("__t", col(leftTime).cast("timestamp"))
      .withColumn("__is_right", lit(0))
    // join-on-equality semantics: a NULL right key matches nothing (the
    // window would otherwise group null-key rows of both sides together and
    // fill payloads across them), and a NULL right time can never satisfy
    // rightTime <= leftTime
    val r = right
      .filter(col(rightKey).isNotNull && col(rightTime).isNotNull)
      .select(
        col(rightKey).as("__k") +:
          col(rightTime).cast("timestamp").as("__t") +:
          lit(1).as("__is_right") +:
          payload.map(col): _*)
    // right rows sort BEFORE left rows at the same instant, so a right row
    // at exactly leftTime is matched (<= semantics, like DuckDB ASOF JOIN)
    val w = Window
      .partitionBy("__k")
      .orderBy(col("__t").asc, col("__is_right").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // fill the payload from the SINGLE most-recent right row, atomically:
    // ONE `last(_, ignoreNulls)` over a struct of the whole payload. A
    // per-column fold would skip a matched right row's NULL value (falling
    // back to an OLDER row's) and, with several payload columns, could
    // stitch values from DIFFERENT right rows onto one left row. Left rows
    // contribute a NULL struct (skipped by ignoreNulls); a right row's
    // struct is non-null even when every field inside is null, so a matched
    // right row with null values is attached as-is, as DuckDB ASOF JOIN does.
    val filled = l.unionByName(r, allowMissingColumns = true).withColumn("__pay",
      last(when(col("__is_right") === 1, struct(payload.map(col): _*)), ignoreNulls = true)
        .over(w))
    payload.foldLeft(filled) { (df, p) => df.withColumn(p, col("__pay").getField(p)) }
      .filter(col("__is_right") === 0)
      .drop("__pay", "__k", "__t", "__is_right")
  }
}
