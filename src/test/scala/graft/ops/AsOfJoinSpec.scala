package graft.ops

import java.sql.Timestamp

import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asOf picks the latest right row at-or-before each left time, per key") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 110.0),
      (2L, ts("2024-01-01 10:30:00"), 200.0))
      .toDF("qkey", "qts", "price")
    val trades = Seq(
      (1L, ts("2024-01-01 10:30:00"), "t1"), // after 10:00 quote
      (1L, ts("2024-01-01 11:00:00"), "t2"), // exactly at 11:00 quote -> inclusive
      (1L, ts("2024-01-01 09:00:00"), "t3"), // before any quote -> null
      (2L, ts("2024-01-01 12:00:00"), "t4"),
      (3L, ts("2024-01-01 12:00:00"), "t5")) // key with no quotes -> null
      .toDF("key", "ts", "trade")
    val out = AsOfJoin.asOf(trades, quotes, "key", "qkey", "ts", "qts", Seq("price"))
      .select("trade", "price").as[(String, Option[Double])].collect().toMap
    assert(out == Map(
      "t1" -> Some(100.0),
      "t2" -> Some(110.0),
      "t3" -> None,
      "t4" -> Some(200.0),
      "t5" -> None))
  }

  test("asOf attaches the matched row's payload ATOMICALLY, nulls included") {
    // right rows: (t=10:00, a=3, b=7) then (t=11:00, a=null, b=5). True
    // as-of (and DuckDB ASOF) attaches the 11:00 row AS-IS to a 12:00 left
    // row: a=null, b=5. The previous per-column ignoreNulls fill skipped
    // the null and produced the torn pair (a=3, b=5) — values from two
    // different right rows (review finding).
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(3), Some(7)),
      (1L, ts("2024-01-01 11:00:00"), Option.empty[Int], Some(5)))
      .toDF("rk", "rts", "a", "b")
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "x"))
      .toDF("key", "ts", "tag")
    val out = AsOfJoin.asOf(left, right, "key", "rk", "ts", "rts", Seq("a", "b"))
      .select("a", "b").as[(Option[Int], Option[Int])].head()
    assert(out == ((None, Some(5))), s"torn payload: $out")
  }

  test("asOf never matches NULL keys (join-on-equality semantics)") {
    val left = Seq(
      (Some(1L), ts("2024-01-01 12:00:00"), "keyed"),
      (None: Option[Long], ts("2024-01-01 12:00:00"), "nullkey"))
      .toDF("key", "ts", "tag")
    val right = Seq(
      (Some(1L), Some(ts("2024-01-01 10:00:00")), 1.0),
      (None: Option[Long], Some(ts("2024-01-01 09:00:00")), 99.0), // null key: matches nothing
      (Some(1L), None: Option[Timestamp], 98.0))                   // null time: matches nothing
      .toDF("rkey", "rts", "v")
    val out = AsOfJoin.asOf(left, right, "key", "rkey", "ts", "rts", Seq("v"))
      .select("tag", "v").as[(String, Option[Double])].collect().toMap
    assert(out == Map("keyed" -> Some(1.0), "nullkey" -> None))
  }

  test("asOf keeps every left row exactly once") {
    val left = Seq((1L, ts("2024-01-01 00:00:00"), "a"), (1L, ts("2024-01-02 00:00:00"), "b"))
      .toDF("key", "ts", "tag")
    val right = Seq((1L, ts("2024-01-01 00:00:00"), 1.0), (1L, ts("2024-01-01 12:00:00"), 2.0))
      .toDF("rkey", "rts", "v")
    val out = AsOfJoin.asOf(left, right, "key", "rkey", "ts", "rts", Seq("v"))
    assert(out.count() == 2)
    assert(out.columns.toSet == Set("key", "ts", "tag", "v"))
  }
}
