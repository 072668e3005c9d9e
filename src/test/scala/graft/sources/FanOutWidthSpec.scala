package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Tables.fanOutWidth]] — the pure sizing policy behind the
  * scale-adaptive tiny-scan fan-out (r18 verdict #3: width capped at
  * 16 partitions per natural split instead of fanning straight to
  * defaultParallelism). Pure-function spec: the Spark-visible effect
  * (one round-robin Exchange, or none) is covered by the plan census
  * at local[2], where the guard is inert by design.
  */
class FanOutWidthSpec extends AnyFunSuite {

  private val MB = 1L << 20
  private val split = 128 * MB

  test("low-parallelism sessions never fan out (test/local[2] inertness)") {
    assert(Tables.fanOutWidth(1, 1 * MB, split).isEmpty)
    assert(Tables.fanOutWidth(2, 1 * MB, split).isEmpty)
  }

  test("a one-split source on a 32-way session fans to the 16x cap, not to 32") {
    assert(Tables.fanOutWidth(32, 1 * MB, split).contains(16))
  }

  test("the cap is inactive at 8 cores: width == target (pre-cap behavior)") {
    assert(Tables.fanOutWidth(8, 1 * MB, split).contains(8))
  }

  test("width scales with natural splits and never exceeds target") {
    // 2 splits x 16 = 32 > target 32? splits*2 = 4 < 32, width = min(32, 32)
    assert(Tables.fanOutWidth(32, 2 * split, split).contains(32))
    // 3 splits on 32 cores: still tiny (6 < 32), width capped by target
    assert(Tables.fanOutWidth(32, 3 * split, split).contains(32))
  }

  test("sources already resolving to >= target/2 splits are untouched (scale no-op)") {
    // 16 splits on 32 cores: splits*2 == target -> no fan-out
    assert(Tables.fanOutWidth(32, 16 * split, split).isEmpty)
    // corpus-scale: thousands of splits -> no fan-out at any core count
    assert(Tables.fanOutWidth(512, 4096 * split, split).isEmpty)
  }

  test("unreadable sizing (Long.MaxValue sentinel) fails toward no fan-out") {
    assert(Tables.fanOutWidth(32, Long.MaxValue, split).isEmpty)
  }

  test("sourceBytes: a file: URI sizes as its plain path; an object-store path as Long.MaxValue") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fanout-size")
    java.nio.file.Files.writeString(dir.resolve("a.parquet"), "12345")
    java.nio.file.Files.writeString(dir.resolve("b.parquet"), "123")
    val plain = Tables.sourceBytes(dir.toString)
    assert(plain == 8L)
    assert(Tables.sourceBytes(s"file:$dir") == plain)
    assert(Tables.sourceBytes(dir.toUri.toString) == plain) // file:///…
    assert(Tables.sourceBytes(s"$dir/a.parquet") == 5L)
    assert(Tables.sourceBytes(s"file:$dir/a.parquet") == 5L)
    assert(Tables.sourceBytes("s3a://bucket/lake/documents.parquet") == Long.MaxValue)
  }
}
