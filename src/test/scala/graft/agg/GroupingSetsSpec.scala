package graft.agg

import java.nio.file.Files
import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}
import graft.functions.ExactAgg
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Multi-dimensional aggregation lattice (q33 cube, q114 grouping sets):
  * pins the algebra between the three flavors so the q114 SQL's set list
  * provably carries the rollup chain the verdict asked for.
  */
class GroupingSetsSpec extends SparkSpec {
  import spark.implicits._

  private def sales = Seq(
    ("a", "x", "M", 10L), ("a", "y", "T", 20L), ("b", "x", "M", 30L),
    ("b", "x", "T", 40L), ("a", "x", "T", 50L)).toDF("f", "s", "m", "q")

  test("DataFrame rollup equals the GROUPING SETS chain ((f,s),(f),())") {
    sales.createOrReplaceTempView("gs_sales")
    val viaRollup = sales.rollup("f", "s")
      .agg(count(lit(1)).as("cnt"), sum(col("q")).as("sq"))
      .select(
        coalesce(col("f"), lit("ALL")).as("f"),
        coalesce(col("s"), lit("ALL")).as("s"),
        col("cnt"), col("sq"))
      .orderBy("f", "s").collect().toSeq
    val viaSets = spark.sql(
      """SELECT COALESCE(f, 'ALL') AS f, COALESCE(s, 'ALL') AS s,
        |  COUNT(*) AS cnt, SUM(q) AS sq
        |FROM gs_sales GROUP BY GROUPING SETS ((f, s), (f), ())
        |ORDER BY f, s""".stripMargin).collect().toSeq
    assert(viaRollup == viaSets)
  }

  test("the q114 mixed lattice = rollup rows + the independent (m) slice, flagged by grouping()") {
    sales.createOrReplaceTempView("gs_sales")
    val out = spark.sql(
      """SELECT COALESCE(f, 'ALL') AS f, COALESCE(s, 'ALL') AS s,
        |  COALESCE(m, 'ALL') AS m,
        |  CAST(grouping(m) AS BIGINT) AS gm, COUNT(*) AS cnt
        |FROM gs_sales
        |GROUP BY GROUPING SETS ((f, s), (f), (m), ())
        |ORDER BY gm, f, s, m""".stripMargin).collect()
    // the (m) set: gm = 0 and both dims rolled up
    val mSlice = out.filter(_.getLong(3) == 0L)
    assert(mSlice.map(_.getString(2)).toSeq == Seq("M", "T"))
    assert(mSlice.forall(r => r.getString(0) == "ALL" && r.getString(1) == "ALL"))
    // the rollup chain: (f,s) leaves + (f) subtotals + the grand total
    val chain = out.filter(_.getLong(3) == 1L)
    assert(chain.count(r => r.getString(1) != "ALL") == 3)          // (f,s) leaves
    assert(chain.count(r => r.getString(0) != "ALL" && r.getString(1) == "ALL") == 2)
    assert(chain.count(r => r.getString(0) == "ALL" && r.getString(1) == "ALL") == 1)
    // grand total counts every row exactly once
    assert(out.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL" &&
      r.getString(2) == "ALL").map(_.getLong(4)).toSeq == Seq(5L))
  }

  /** A table dir holding a `lineitem.parquet` with the columns q33 and
    * q114 read.
    */
  private def lineitemDir(rows: Seq[(Double, String, String, Timestamp)]): String = {
    val dir = Files.createTempDirectory("graft-lineitem").toString
    rows.toDF("l_quantity", "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  // DuckDB's answer over an empty lineitem: the () set is still one row,
  // COUNT(*) = 0 and SUM over nothing NULL
  test("q33 over an empty lineitem returns the grand-total row, as DuckDB does") {
    val out = SparkEntry.queries("q33_cube_counts")(spark, lineitemDir(Nil)).collect().toSeq
    assert(out == Seq(Row("ALL", "ALL", 0L, null)))
  }

  test("q114 over an empty lineitem returns the () row with every grouping flag set") {
    val out = SparkEntry.queries("q114_grouping_sets")(spark, lineitemDir(Nil)).collect().toSeq
    assert(out == Seq(Row("ALL", "ALL", "ALL", 1L, 1L, 1L, 0L, null)))
  }

  test("q33 and q114 equal the direct CUBE / GROUPING SETS statement, NULL keys or none") {
    // with NULL keys the zero row (NULL keys) joins real groups without
    // changing a figure; without them it makes groups of its own, which
    // must be dropped
    def nullable[T](i: Int, m: Int, nulls: Boolean)(v: T): T =
      if (nulls && i % m == 0) null.asInstanceOf[T] else v
    Seq(true, false).foreach { nulls =>
      val dir = lineitemDir((0 until 60).map { i =>
        (i * 1.25, nullable(i, 3, nulls)(Seq("A", "N", "R")(i % 3)),
          nullable(i, 4, nulls)(Seq("F", "O")(i % 2)),
          nullable(i, 5, nulls)(Timestamp.valueOf(f"1995-${1 + i % 4}%02d-15 00:00:00")))
      })
      Tables.lineitem(spark, dir)
        .withColumn("l_shipmonth", date_format(col("l_shipdate"), "yyyy-MM"))
        .createOrReplaceTempView("gs_li")
      val cents = ExactAgg.Sql.cents("l_quantity")
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(SparkEntry.queries("q33_cube_counts")(spark, dir)) == rows(spark.sql(
        s"""SELECT COALESCE(l_returnflag, 'ALL') AS f, COALESCE(l_linestatus, 'ALL') AS st,
           |  COUNT(*) AS cnt, SUM($cents) AS sum_qty_c
           |FROM gs_li GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)), s"nulls=$nulls")
      assert(rows(SparkEntry.queries("q114_grouping_sets")(spark, dir)) == rows(spark.sql(
        s"""SELECT COALESCE(l_returnflag, 'ALL') AS f, COALESCE(l_linestatus, 'ALL') AS st,
           |  COALESCE(l_shipmonth, 'ALL') AS sm,
           |  CAST(grouping(l_returnflag) AS BIGINT) AS gf,
           |  CAST(grouping(l_linestatus) AS BIGINT) AS gst,
           |  CAST(grouping(l_shipmonth) AS BIGINT) AS gsm,
           |  COUNT(*) AS cnt, SUM($cents) AS sum_qty_c
           |FROM gs_li GROUP BY GROUPING SETS (
           |  (l_returnflag, l_linestatus), (l_returnflag), (l_shipmonth), ())""".stripMargin)),
        s"nulls=$nulls")
    }
  }
}
