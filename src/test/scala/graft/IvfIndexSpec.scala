package graft

import org.apache.spark.sql.functions._

/** The persisted-IVF-index fixture stamp contract (round-6 verdict #3 +
  * advice): the stamp must cover (a) the model hyperparameters and
  * quantizer version — they live in code, invisible to any data
  * fingerprint — and (b) the embedding CONTENT, not just cardinality, so a
  * regenerated corpus with the same row count but different vectors cannot
  * be served a stale index.
  */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private def emb(seed: Int) = (0 until 12).map { i =>
    val v = Array.tabulate(4)(d => (((i * 7 + d * 3 + seed) % 11) - 5).toFloat / 5f)
    (i.toLong, v.toSeq)
  }.toDF("vec_id", "embedding")

  // the embeddings source stamp of an in-memory corpus under a fake sf dir
  private def source(seed: Int) = s"sfX|${Fixture.fingerprint(emb(seed), "embeddings")}"

  test("ivf stamp: hyperparameter flip changes the stamp; content change changes the stamp") {
    val a = registry.VectorQueries.ivfIndexStamp(source(0), k = 2, iters = 1)
    assert(registry.VectorQueries.ivfIndexStamp(source(0), k = 2, iters = 1) == a,
      "stamp must be deterministic for identical inputs")
    assert(registry.VectorQueries.ivfIndexStamp(source(0), k = 3, iters = 1) != a, "k must be stamped")
    assert(registry.VectorQueries.ivfIndexStamp(source(0), k = 2, iters = 2) != a, "iters must be stamped")
    // same cardinality, same vec_ids, different vector CONTENT — the exact
    // staleness mode count+sum(vec_id) could not see
    assert(registry.VectorQueries.ivfIndexStamp(source(1), k = 2, iters = 1) != a,
      "embedding content must be stamped")
  }

  /** Build, re-ensure and k-flip one IVF fixture whose temp dir the index
    * code addresses as `asFixture(localDir)`. */
  private def reusedThenRebuilt(asFixture: String => String): Unit = {
    val local = java.nio.file.Files.createTempDirectory("graft-ivf-stamp").toString
    val fixture = asFixture(local)
    val df = emb(0)
    registry.VectorQueries.ensureIvfIndex(df, source(0), fixture, k = 2, iters = 1)
    assert(spark.read.parquet(s"$fixture/cells").count() == 2)
    def listState(): Set[(String, Long)] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(local, "lists"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => (p.toString, java.nio.file.Files.getLastModifiedTime(p).toMillis))
          .toSet
      } finally s.close()
    }
    val before = listState()
    // same corpus + same hyperparameters: write-once — no file touched
    registry.VectorQueries.ensureIvfIndex(df, source(0), fixture, k = 2, iters = 1)
    assert(listState() == before, "matching stamp must not rewrite the index")
    // hyperparameter change: the stamp mismatches and the index is rebuilt
    // with the new model — the silent-stale-model trap the stamp closes
    registry.VectorQueries.ensureIvfIndex(df, source(0), fixture, k = 3, iters = 1)
    assert(spark.read.parquet(s"$fixture/cells").count() == 3,
      "k flip must rebuild the index under the new model")
  }

  test("ensureIvfIndex: reused while stamp matches, REBUILT when k flips") {
    reusedThenRebuilt(identity)
  }

  test("ensureIvfIndex at a file: URI: reused while stamp matches, REBUILT when k flips") {
    reusedThenRebuilt(local => s"file:$local")
  }

  test("ivfIndexReadable: mid-write debris reads as bootstrap, not as an index") {
    import graft.functions.Similarity
    // the same round-9 hardening the generational dedup indexes got: a
    // build that crashed mid-cells-write leaves the directory visible with
    // only a _temporary attempt inside — bare fs.exists(cells) would send a
    // replay down the probe path, which throws on the data-less read and
    // crash-loops every subsequent replay
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-debris").toString
    assert(!Similarity.ivfIndexReadable(spark, s"$root/never-created"))

    // lists committed, cells crashed mid-write (dir + _temporary, no data)
    val torn = s"$root/torn"
    val df = emb(0)
    val cents = Similarity.kmeansCentroids(df, k = 2, iters = 1)
    Similarity.writeIvfIndex(df, cents, torn)
    assert(Similarity.ivfIndexReadable(spark, torn), "a committed index must read as readable")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(torn), spark.sparkContext.hadoopConfiguration)
    val cells = new org.apache.hadoop.fs.Path(s"$torn/cells")
    fs.delete(cells, true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$torn/cells/_temporary/0"))
    assert(!Similarity.ivfIndexReadable(spark, torn),
      "cells debris without a committed data file must read as bootstrap")

    // cells present but lists torn away (hand-rolled / partially-deleted
    // layout) — the probe would throw on the missing lists read
    val noLists = s"$root/no-lists"
    Similarity.writeIvfIndex(df, cents, noLists)
    fs.delete(new org.apache.hadoop.fs.Path(s"$noLists/lists"), true)
    assert(!Similarity.ivfIndexReadable(spark, noLists))
  }
}
