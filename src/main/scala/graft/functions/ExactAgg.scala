package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact cross-engine-deterministic aggregate arithmetic.
  *
  * Money-like measures are summed as integer cents and averaged with an
  * integer round-half-up formula replicated verbatim in the DuckDB oracle
  * SQL — float summation is partition-order dependent, and even on an
  * identical double Spark's `round` (shortest-decimal repr) and DuckDB's
  * (binary value) diverge on exact ties (observed at sf0.1; see
  * /root/repo/PLANS.md). Integer arithmetic removes both failure modes.
  *
  * One copy for every call site (the registry queries, BatchAggregates,
  * StreamingAggs) so the semantics can't drift between modules.
  */
object ExactAgg {

  /** Exact integer cents of a money-like (≤ 2 fractional decimals) value. */
  def cents(c: Column): Column = (c.cast("decimal(12,2)") * 100).cast("long")

  /** Floor division on longs, in pure integer arithmetic.
    *
    * `a - pmod(a, b)` is exactly divisible by `b` and floors toward −∞ for
    * any sign of `a` (b > 0), and the quotient comes from Spark's integral
    * `div` — no double round-trip, so it stays exact past 2^53 where a
    * `(x / y).cast("long")` would silently lose low bits. The oracle SQL
    * mirrors this with `(a - ((a % b) + b) % b) // b` (DuckDB `%` keeps the
    * dividend's sign and `//` truncates toward zero; after subtracting the
    * positive remainder the division is exact, so truncation == floor).
    */
  def floorDiv(a: Column, b: Column): Column =
    call_function("div", a - pmod(a, b), b)

  /** Round-half-up of p/q (q > 0) as ⌊(2p + q) / 2q⌋ — exact integers end
    * to end.
    */
  def divHalfUp(p: Column, q: Column): Column =
    floorDiv(p * 2 + q, q * 2)

  /** 4-decimal mean of a money-like column: cents → e4 units with integer
    * half-up, then a single exact double division by 10⁴.
    */
  def avgExact2dp(c: Column): Column = {
    val s = sum(cents(c))
    val n = count(c)
    when(n > 0, divHalfUp(s * 100, n) / 10000.0)
  }

  /** Same, for integer-valued measures (exact long sum). */
  def avgExactLong(c: Column): Column = {
    val s = sum(c)
    val n = count(c)
    when(n > 0, divHalfUp(s * 10000, n) / 10000.0)
  }

  /** The DuckDB-SQL mirrors of the formulas above. Generated, not
    * hand-copied, so the Spark and oracle sides cannot drift.
    */
  object Sql {

    /** Exact integer cents of a money-like SQL expression. */
    def cents(x: String): String =
      s"CAST(CAST($x AS DECIMAL(12,2)) * 100 AS BIGINT)"

    /** Floor division mirroring [[ExactAgg.floorDiv]] (see its doc for why
      * plain DuckDB `//` — truncation — would disagree on negative sums).
      */
    def floorDiv(a: String, b: String): String =
      s"(($a - ((($a) % ($b)) + ($b)) % ($b)) // ($b))"

    def divHalfUp(p: String, q: String): String =
      floorDiv(s"(($p) * 2 + ($q))", s"(($q) * 2)")

    def avg2dp(x: String): String = {
      val s = s"SUM(${cents(x)})"
      val n = s"COUNT($x)"
      s"CAST(${divHalfUp(s"$s * 100", n)} AS DOUBLE) / 10000.0"
    }

    def avgLong(x: String): String = {
      val s = s"CAST(SUM($x) AS BIGINT)"
      val n = s"COUNT($x)"
      s"CAST(${divHalfUp(s"$s * 10000", n)} AS DOUBLE) / 10000.0"
    }
  }
}
