package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** Pins [[Tables.sourceSignature]], the one source-state signature behind
  * the JVM-local source memos (the schema memo of [[Tables.parquetScan]]
  * and the fixture-stamp fingerprints): a state it cannot see is never
  * memoized, and a `file:` URI is the local path it names.
  */
class SourceSignatureSpec extends SparkSpec {
  import spark.implicits._

  test("sourceSignature is a SHA-256 digest that moves when a file changes, None when unseen") {
    val dir = Files.createTempDirectory("graft-sig")
    val f = dir.resolve("a.txt")
    Files.writeString(f, "one")
    val first = Tables.sourceSignature(dir.toString)
    assert(first.exists(_.matches("[0-9a-f]{64}")), first)
    assert(Tables.sourceSignature(s"file:$dir") == first)
    Files.writeString(f, "three")
    assert(Tables.sourceSignature(dir.toString) != first)
    assert(Tables.sourceSignature(dir.resolve("absent").toString).isEmpty)
    assert(Tables.sourceSignature("hdfs://namenode/lake/events").isEmpty)
  }

  test("parquetScan at a file: URI sees a rewritten source's new schema") {
    val path = "file:" + Files.createTempDirectory("graft-scan").resolve("t.parquet")
    Seq((1L, "a")).toDF("id", "name").write.parquet(path)
    assert(Tables.parquetScan(spark, path).columns.toSeq == Seq("id", "name"))
    Seq((2L, 0.5, true)).toDF("id", "score", "flag").write.mode("overwrite").parquet(path)
    val rescanned = Tables.parquetScan(spark, path)
    assert(rescanned.columns.toSeq == Seq("id", "score", "flag"))
    assert(rescanned.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 0.5, true)))
  }
}
