package graft

import org.apache.spark.sql.execution.LogicalRDD

import graft.sources.Tables

/** q26 fans its half-corpus out before the MinHash signature bank
  * ([[Tables.fanOutIfTiny]]), and the signatures are pinned with
  * `localCheckpoint`, so the checkpointed relation's partition count IS
  * the parallelism the signature pass ran with. The expected width is
  * computed from the same inputs the policy reads — the session's default
  * parallelism, the bytes of `documents.parquet` and `maxPartitionBytes` —
  * never hard-coded: on a session with ≥ 3 cores and a one-split source
  * the policy fans out, and a q26 without `fanOutIfTiny` would keep the
  * scan's single split and fail here. On a 2-core session the policy is
  * inert, and the relation must keep the scan's own split count. The spec
  * writes its own small documents table.
  */
class Q26FanOutSpec extends SparkSpec {

  /** A table dir holding a one-file `documents.parquet` of 40 short docs. */
  private def documentsDir(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q26-docs").toString
    (0L until 40L).map(i => (i, s"alpha beta gamma delta word$i token${i % 7}", "en", "web", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q26: the checkpointed signature relation has the fan-out policy's width") {
    val dir = documentsDir()
    val q26 = SparkEntry.queries("q26_minhash_pairs")(spark, dir)
    val checkpointed = q26.queryExecution.analyzed
      .collect { case r: LogicalRDD => r.rdd }
      .distinctBy(_.id)
    assert(checkpointed.size == 1,
      s"expected one checkpointed signature relation, got ${checkpointed.size}")
    val scanSplits = Tables.documents(spark, dir).queryExecution.toRdd.getNumPartitions
    val expected = Tables.fanOutWidth(
        spark.sparkContext.defaultParallelism,
        Tables.sourceBytes(s"$dir/documents.parquet"),
        spark.sessionState.conf.filesMaxPartitionBytes)
      .getOrElse(scanSplits)
    assert(checkpointed.head.getNumPartitions == expected,
      s"signature relation has ${checkpointed.head.getNumPartitions} partitions, " +
        s"the fan-out policy gives $expected (scan splits: $scanSplits, " +
        s"default parallelism: ${spark.sparkContext.defaultParallelism})")
  }
}
