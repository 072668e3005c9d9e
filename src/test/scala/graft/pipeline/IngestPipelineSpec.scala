package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{Dedup, Pq, Similarity}
import graft.pipeline.IngestPipeline.{IngestPaths, IvfFamily}

class IngestPipelineSpec extends SparkSpec with org.scalatest.LoneElement {
  import spark.implicits._

  private val int8Health = IngestPipeline.HealthConfig(IvfFamily.Int8)

  private def tmpRoot(): IngestPaths =
    IngestPaths(Files.createTempDirectory("graft-ingest").toString)

  // ≥5 tokens so qualityBucket lands in an OK bucket; distinct texts.
  private val tA = "alpha beta gamma delta epsilon zeta"
  private val tB = "the quick brown fox jumps over the lazy dog"
  private val tC = "the rain in spain stays mainly on the plain"
  private val tD = "one two three four five six"
  private val tE = "never gonna give you up never gonna let you down"

  private def batch0: DataFrame = Seq(
    (1L, tA), (2L, tB),
    (3L, "hi"), // TOO_SHORT — quality reject
    (4L, tA)    // intra-batch duplicate of 1 — 1 wins (min id)
  ).toDF("doc_id", "text")

  private def batch1: DataFrame = Seq(
    (11L, tC),
    (12L, tB), // cross-batch duplicate of 2 — rejected via fp index
    (13L, tD)
  ).toDF("doc_id", "text")

  private def batch2: DataFrame = Seq(
    (21L, tC), // duplicate of 11
    (22L, tE),
    (23L, "ok") // quality reject
  ).toDF("doc_id", "text")

  private def lakeState(p: IngestPaths): Seq[(Long, Long)] =
    spark.read.parquet(p.docLake)
      .select(col("doc_id"), col("__ver").cast("long"))
      .as[(Long, Long)].collect().toSeq.sorted

  private val expectedLake = Seq((1L, 0L), (2L, 0L), (11L, 1L), (13L, 1L), (22L, 2L))

  test("three-batch ingest accepts exactly the quality-passing first occurrences") {
    val p = tmpRoot()
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L) == 2L)
    assert(IngestPipeline.ingestBatch(spark, p, batch1, 1L) == 2L)
    assert(IngestPipeline.ingestBatch(spark, p, batch2, 2L) == 1L)
    assert(lakeState(p) == expectedLake)
    // the fp index holds exactly the accepted docs' fingerprints, once each
    val fps = spark.read.parquet(p.fpIndex)
    assert(fps.count() == 5 && fps.select("fp").distinct().count() == 5)
    assert(IngestPipeline.lastApplied(spark, p) == 2L)
  }

  test("a replayed committed batch is a no-op") {
    val p = tmpRoot()
    IngestPipeline.ingestBatch(spark, p, batch0, 0L)
    IngestPipeline.ingestBatch(spark, p, batch1, 1L)
    val before = lakeState(p)
    assert(IngestPipeline.ingestBatch(spark, p, batch1, 1L) == 0L) // manifest gate
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L) == 0L)
    assert(lakeState(p) == before)
    assert(spark.read.parquet(p.fpIndex).count() == 4)
  }

  test("crash after the fp append (before manifest) replays to the same state") {
    val p = tmpRoot()
    IngestPipeline.ingestBatch(spark, p, batch0, 0L)
    IngestPipeline.ingestBatch(spark, p, batch1, 1L)
    IngestPipeline.ingestBatch(spark, p, batch2, 2L)
    // simulate: batch 2's data writes all landed but the manifest record did
    // not — the replay must see its own rows as history (accepted = ∅),
    // touch nothing, and converge by recording the manifest
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p.manifest), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p.manifest), false)
    assert(IngestPipeline.lastApplied(spark, p) == -1L)
    assert(IngestPipeline.ingestBatch(spark, p, batch2, 2L) == 0L)
    assert(lakeState(p) == expectedLake,
      "replay after the dedup commit point must not clobber the batch's lake partition")
    assert(spark.read.parquet(p.fpIndex).count() == 5)
    assert(IngestPipeline.lastApplied(spark, p) == 2L)
  }

  test("a publish crash between the manifest's two renames never loses the commit record") {
    val p = tmpRoot()
    IngestPipeline.ingestBatch(spark, p, batch0, 0L)
    IngestPipeline.ingestBatch(spark, p, batch1, 1L)
    IngestPipeline.ingestBatch(spark, p, batch2, 2L)
    // Reconstruct the exact crash state of batch 2's publish halting between
    // rename(manifest, __old) and rename(__tmp, manifest): the live record is
    // GONE, the previous record (1) is parked at __old, the staged new value
    // (2) still sits at __tmp. Pre-fix (delete+rename), this state had NO
    // record at all: lastApplied -1, readCommitted throwing on a healthy
    // lake, compactCommitted refusing to run.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p.manifest), spark.sparkContext.hadoopConfiguration)
    def put(path: String, v: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
      try out.write(v.getBytes("UTF-8")) finally out.close()
    }
    fs.delete(new org.apache.hadoop.fs.Path(p.manifest), false)
    put(p.manifest + "__old", "1")
    put(p.manifest + "__tmp", "2")
    // readers see the PARKED record in place — the lake never reads as
    // empty, and the read path performs no rename (a reader renaming
    // __old back mid-swap would break the writer's single-writer publish)
    assert(IngestPipeline.lastApplied(spark, p) == 1L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(p.manifest + "__old")),
      "the read path must be heal-free: the park is consumed only by the writer")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p.manifest)),
      "the read path must not republish the manifest")
    // the two consumers the pre-fix state broke now work against the pin
    assert(IngestPipeline.readCommitted(spark, p).count() == 4L,
      "readCommitted must pin the recovered high-water mark (batches 0-1)")
    IngestPipeline.compactCommitted(spark, p, 1L) // must not refuse
    // the interrupted batch replays as a no-op and republishes its record;
    // the WRITER path heals the parked state and consumes the park
    assert(IngestPipeline.ingestBatch(spark, p, batch2, 2L) == 0L)
    assert(IngestPipeline.lastApplied(spark, p) == 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p.manifest + "__old")),
      "the writer must consume the park, not leave it to shadow a later crash")
    assert(lakeState(p) == expectedCompacted,
      "content must survive recovery + fold + replay")
  }

  test("crash before the fp append replays the lake write idempotently") {
    val p = tmpRoot()
    IngestPipeline.ingestBatch(spark, p, batch0, 0L)
    IngestPipeline.ingestBatch(spark, p, batch1, 1L)
    // simulate: batch 2 landed its lake partition, then crashed BEFORE its
    // fp append (manifest also unrecorded) — replay recomputes the same
    // accepted set and rewrites the same partition
    val accepted2 = Seq((22L, tE)).toDF("doc_id", "text")
    graft.sinks.Sinks.appendVersioned(accepted2, p.docLake, 2L)
    assert(IngestPipeline.ingestBatch(spark, p, batch2, 2L) == 1L)
    assert(lakeState(p) == expectedLake)
    assert(spark.read.parquet(p.fpIndex).count() == 5)
  }

  test("an all-rejected first batch writes no index debris and later batches ingest cleanly") {
    val p = tmpRoot()
    val nd = Some(IngestPipeline.NearDupConfig())
    // every doc quality-rejected → accepted is EMPTY on the bootstrap path.
    // A partitioned write of an empty DataFrame commits a directory with no
    // parquet files, so an unguarded bootstrap would install layout-plus-
    // data-less indexes whose probe read throws on every later batch — a
    // permanent crash loop (review finding)
    val junk = Seq((1L, "hi"), (2L, "ok")).toDF("doc_id", "text")
    assert(IngestPipeline.ingestBatch(spark, p, junk, 0L, nearDup = nd) == 0L)
    assert(IngestPipeline.lastApplied(spark, p) == 0L, "the empty batch must still commit")
    assert(!Dedup.fingerprintIndexReadable(spark, p.fpIndex),
      "an empty bootstrap must not install a data-less fp index")
    assert(!Dedup.bandIndexReadable(spark, p.bandIndex),
      "an empty bootstrap must not install a data-less band index")
    // the next non-empty batches bootstrap and dedup normally
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 1L, nearDup = nd) == 2L)
    assert(IngestPipeline.ingestBatch(spark, p, batch1, 2L, nearDup = nd) == 2L)
    assert(lakeState(p) == Seq((1L, 1L), (2L, 1L), (11L, 2L), (13L, 2L)))
  }

  test("MaintenanceConfig rejects a non-positive cadence at construction") {
    // a zero cadence would divide-by-zero inside foreachBatch and kill the
    // stream on its first committed batch
    intercept[IllegalArgumentException] {
      IngestPipeline.MaintenanceConfig(everyNBatches = 0)
    }
  }

  test("ingest-grown IVF index serves identically to a one-shot rebuild") {
    val p = tmpRoot()
    val cents = Array(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    def emb(id: Long, v: Array[Float]) = (id, v.toSeq)
    val emb0 = Seq(
      emb(1L, Array(0.9f, 0.1f, 0f, 0f)), emb(2L, Array(0.1f, 0.95f, 0.2f, 0f)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    val emb1 = Seq(
      emb(11L, Array(0.8f, 0.3f, 0.1f, 0f)), emb(12L, Array(0.2f, 0.9f, 0f, 0.1f)),
      emb(13L, Array(0.7f, 0.7f, 0f, 0f)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))

    IngestPipeline.ingestBatch(spark, p, batch0, 0L, embedBatch = Some(emb0))
    // install the served index AFTER batch 0 (trained offline on the corpus
    // so far), then grow it through ingest
    Similarity.writeIvfIndex(
      spark.read.parquet(p.docLake).filter(col("__ver") === 0)
        .select(col("doc_id").as("vec_id"))
        .join(emb0, Seq("vec_id")),
      cents, p.ivfIndex)
    IngestPipeline.ingestBatch(spark, p, batch1, 1L, embedBatch = Some(emb1))

    // 12 was a duplicate doc: its vector must NOT have been appended
    val indexed = spark.read.parquet(s"${p.ivfIndex}/lists")
      .select("vec_id").as[Long].collect().toSeq.sorted
    assert(indexed == Seq(1L, 2L, 11L, 13L))

    val queries = emb1.filter(col("vec_id") === 11L)
    val served = Similarity.queryIvfIndex(spark, p.ivfIndex, queries, 2, 3)
    val rebuilt = Files.createTempDirectory("graft-ivf-oneshot").toString
    Similarity.writeIvfIndex(
      emb0.unionByName(emb1.filter(col("vec_id").isin(11L, 13L))), cents, rebuilt)
    val oneShot = Similarity.queryIvfIndex(spark, rebuilt, queries, 2, 3)
    assert(served.collect().toSeq.sortBy(_.getInt(3)) ==
      oneShot.collect().toSeq.sortBy(_.getInt(3)))

    // at-least-once absorber: a replayed IVF append (crash between the IVF
    // and fp writes) duplicates list rows; serving must be unchanged
    Similarity.appendToIvfIndex(spark, p.ivfIndex,
      emb1.filter(col("vec_id").isin(11L, 13L)))
    val servedDup = Similarity.queryIvfIndex(spark, p.ivfIndex, queries, 2, 3)
    assert(servedDup.collect().toSeq.sortBy(_.getInt(3)) ==
      oneShot.collect().toSeq.sortBy(_.getInt(3)),
      "duplicate list rows must be absorbed at serve time")
  }

  test("ingest keeps an installed IVF-PQ serving index fresh; serve parity with a one-shot rebuild") {
    val p = tmpRoot()
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    def emb(id: Long, v: Array[Float]) = (id, v.toSeq)
    val emb0 = Seq(
      emb(1L, Array(0.9f, 0.1f, 0f, 0f)), emb(2L, Array(0.1f, 0.95f, 0.2f, 0f)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    val emb1 = Seq(
      emb(11L, Array(0.8f, 0.3f, 0.1f, 0f)), emb(12L, Array(0.2f, 0.9f, 0f, 0.1f)),
      emb(13L, Array(0.7f, 0.7f, 0f, 0f)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))

    IngestPipeline.ingestBatch(spark, p, batch0, 0L, embedBatch = Some(emb0))
    // install the serving index AFTER batch 0 (models trained offline on
    // the corpus so far), then let ingest keep it fresh
    val inst = spark.read.parquet(p.docLake).filter(col("__ver") === 0)
      .select(col("doc_id").as("vec_id")).join(emb0, Seq("vec_id"))
    val model = Pq.train(inst, Pq.initCodebooks(inst, dims = 4, m = 2, k = 2), iters = 2)
    Pq.writeIvfPqIndex(inst, cents, model, p.ivfPqIndex)
    IngestPipeline.ingestBatch(spark, p, batch1, 1L, embedBatch = Some(emb1))

    // 12 was a duplicate doc: its vector must NOT have been appended
    val indexed = spark.read.parquet(s"${p.ivfPqIndex}/lists")
      .select("vec_id").as[Long].collect().toSeq.sorted
    assert(indexed == Seq(1L, 2L, 11L, 13L))

    val queries = emb1.filter(col("vec_id") === 11L)
    def servedRows(path: String) =
      Pq.queryIvfPqIndex(spark, path, queries, 2, 3).collect().toSeq.sortBy(_.getInt(3))
    val rebuilt = Files.createTempDirectory("graft-ivfpq-oneshot").toString
    Pq.writeIvfPqIndex(
      emb0.unionByName(emb1.filter(col("vec_id").isin(11L, 13L))), cents, model, rebuilt)
    assert(servedRows(p.ivfPqIndex) == servedRows(rebuilt))

    // maintenance folds the PQ lists via the shared cell layout; serving
    // is unchanged across the fold
    IngestPipeline.maintain(spark, p)
    assert(servedRows(p.ivfPqIndex) == servedRows(rebuilt))
  }

  private val expectedCompacted =
    Seq((1L, 1L), (2L, 1L), (11L, 1L), (13L, 1L), (22L, 2L))

  private def ingestThree(p: IngestPaths): Unit = {
    IngestPipeline.ingestBatch(spark, p, batch0, 0L)
    IngestPipeline.ingestBatch(spark, p, batch1, 1L)
    IngestPipeline.ingestBatch(spark, p, batch2, 2L)
  }

  private def verDirs(p: IngestPaths): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p.docLake), spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(p.docLake))
      .map(_.getPath.getName).filter(_.startsWith("__ver=")).sorted.toSeq
  }

  test("compactCommitted folds committed partitions and the loop continues") {
    val p = tmpRoot()
    ingestThree(p)
    IngestPipeline.compactCommitted(spark, p, 1L)
    assert(verDirs(p) == Seq("__ver=1", "__ver=2"))
    assert(lakeState(p) == expectedCompacted, "content must survive the fold")
    // the loop continues: a new batch lands in its own partition, a replay
    // of a compacted batch is still manifest-gated
    val batch3 = Seq((31L, "seven words are enough for quality pass")).toDF("doc_id", "text")
    assert(IngestPipeline.ingestBatch(spark, p, batch3, 3L) == 1L)
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L) == 0L)
    assert(verDirs(p) == Seq("__ver=1", "__ver=2", "__ver=3"))
    // idempotent: re-folding the same range changes nothing
    IngestPipeline.compactCommitted(spark, p, 1L)
    assert(lakeState(p) == expectedCompacted :+ ((31L, 3L)))
    // compaction may never outrun the manifest
    intercept[IllegalArgumentException] {
      IngestPipeline.compactCommitted(spark, p, 99L)
    }
  }

  test("readCommitted is snapshot-consistent across concurrent appends (pin = manifest)") {
    val p = tmpRoot()
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L) == 2L)
    // pin BEFORE the next batch: the DataFrame captures manifest=0 and
    // its file listing — the reader's whole contract
    val pinned = IngestPipeline.readCommitted(spark, p)
    val r0 = pinned.select("doc_id").as[Long].collect().toSeq.sorted
    assert(r0 == Seq(1L, 2L))
    // a batch lands while the pinned reader is live
    assert(IngestPipeline.ingestBatch(spark, p,
      Seq((10L, tC), (11L, tD)).toDF("doc_id", "text"), 1L) == 2L)
    // the pinned read is REPEATABLE: same rows, no torn or half-visible
    // partition, regardless of the concurrent append
    assert(pinned.select("doc_id").as[Long].collect().toSeq.sorted == r0)
    // an explicit historical pin re-reads the old committed prefix even
    // though newer partitions now exist on disk
    assert(IngestPipeline.readCommitted(spark, p, upToBatch = 0L)
      .select("doc_id").as[Long].collect().toSeq.sorted == r0)
    // and a fresh pin sees exactly the new committed prefix
    assert(IngestPipeline.readCommitted(spark, p)
      .select("doc_id").as[Long].collect().toSeq.sorted == Seq(1L, 2L, 10L, 11L))
    // pinning ABOVE the manifest would admit the in-flight partition's
    // non-atomic commit window — rejected loudly (review finding)
    val over = intercept[IllegalArgumentException](
      IngestPipeline.readCommitted(spark, p, upToBatch = 99L))
    assert(over.getMessage.contains("high-water mark"), over.getMessage)
    // an empty lake fails loudly like SnapshotLake.pin — no schema to
    // return empty
    intercept[IllegalStateException](
      IngestPipeline.readCommitted(spark, tmpRoot()))
  }

  test("readCommitted on a vanished lake fails with the curated message") {
    val p = tmpRoot()
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L) == 2L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p.docLake))
    val e = intercept[IllegalStateException](IngestPipeline.readCommitted(spark, p))
    assert(e.getMessage.contains(s"ingest lake at ${p.docLake} is missing"), e.getMessage)
  }

  /** The `_compact_intent` of a doc-lake fold of `__ver` ≤ 1 over three
    * batches, byte for byte as every build has written it. */
  private val foldIntentBytes = "1\n__ver=0"

  test("compaction crash BEFORE the swap recovers to the compacted state") {
    val p = tmpRoot()
    ingestThree(p)
    // crash point: staged + intent recorded, swap never ran — the fold runs
    // on a view of the same root whose park rename of __ver=1 is refused
    spark.sparkContext.hadoopConfiguration.set(
      "fs.norename.impl", classOf[graft.sinks.RefusingRenameFileSystem].getName)
    graft.sinks.RefusingRenameFileSystem.refuse =
      src => src.getName == "__ver=1" && src.getParent.getName == "doc_lake"
    try intercept[IllegalArgumentException](
      IngestPipeline.compactCommitted(spark, IngestPaths("norename://" + p.root), 1L))
    finally graft.sinks.RefusingRenameFileSystem.refuse = _ => false
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(p.root, "_compact_intent")),
      "UTF-8") == foldIntentBytes)
    assert(verDirs(p) == Seq("__ver=0", "__ver=1", "__ver=2"), "lake untouched pre-swap")
    IngestPipeline.recoverCompaction(spark, p)
    assert(verDirs(p) == Seq("__ver=1", "__ver=2"))
    assert(lakeState(p) == expectedCompacted)
  }

  test("compaction crash AFTER the swap (duplicate window) recovers") {
    val p = tmpRoot()
    ingestThree(p)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p.docLake), spark.sparkContext.hadoopConfiguration)
    // the fold's state once its intent landed, laid down by hand: the
    // consolidated partition staged, the marker in its on-disk format
    spark.read.parquet(p.docLake).filter(col("__ver") <= 1).drop("__ver")
      .write.parquet(p.docLake + "__compact_tmp/__ver=1")
    Files.write(java.nio.file.Paths.get(p.root, "_compact_intent"), foldIntentBytes.getBytes("UTF-8"))
    // manually perform ONLY the swap, leaving the folded originals behind —
    // the post-swap/pre-delete window where a naive reader double-counts
    graft.sinks.Sinks.swapIn(fs,
      new org.apache.hadoop.fs.Path(p.docLake + "__compact_tmp/__ver=1"),
      new org.apache.hadoop.fs.Path(p.docLake + "/__ver=1"),
      trash = Some(new org.apache.hadoop.fs.Path(p.docLake + "__old/__ver=1")))
    assert(spark.read.parquet(p.docLake).count() > 5, "window visibly double-counts")
    IngestPipeline.recoverCompaction(spark, p)
    assert(verDirs(p) == Seq("__ver=1", "__ver=2"))
    assert(lakeState(p) == expectedCompacted)
  }

  test("an orphaned staging dir without an intent is cleaned, lake untouched") {
    val p = tmpRoot()
    ingestThree(p)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p.docLake), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(p.docLake + "__compact_tmp/__ver=1"))
    IngestPipeline.recoverCompaction(spark, p)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p.docLake + "__compact_tmp")))
    assert(verDirs(p) == Seq("__ver=0", "__ver=1", "__ver=2"))
    assert(lakeState(p) == expectedLake)
  }

  test("compactIndexes folds fp generations and IVF cell files; probes and serving unchanged") {
    val p = tmpRoot()
    def vec(i: Int) = Seq(1f / i, 1f - 1f / i, 0f, 0f)
    val emb0 = Seq((1L, vec(1)), (2L, vec(2)), (4L, vec(4)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    val emb1 = Seq((11L, vec(11)), (12L, vec(12)), (13L, vec(13)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    val emb2 = Seq((21L, vec(21)), (22L, vec(22)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    IngestPipeline.ingestBatch(spark, p, batch0, 0L, embedBatch = Some(emb0))
    Similarity.writeIvfIndex(
      emb0.filter(col("vec_id").isin(1L, 2L)),
      Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f)), p.ivfIndex)
    IngestPipeline.ingestBatch(spark, p, batch1, 1L, embedBatch = Some(emb1))
    IngestPipeline.ingestBatch(spark, p, batch2, 2L, embedBatch = Some(emb2))

    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p.fpIndex), spark.sparkContext.hadoopConfiguration)
    def fpGens() = fs.listStatus(new org.apache.hadoop.fs.Path(p.fpIndex))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted.toSeq
    def cellFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(s"${p.ivfIndex}/lists"))
      .filter(_.getPath.getName.startsWith("cell_id="))
      .map(c => fs.listStatus(c.getPath).count(_.getPath.getName.endsWith(".parquet"))).sum
    assert(fpGens() == Seq("batch=0", "batch=1", "batch=2"))
    val filesBefore = cellFiles()
    assert(filesBefore >= 3, s"two appends should have multiplied cell files, saw $filesBefore")

    val queries = emb1.filter(col("vec_id") === 11L)
    val servedBefore = Similarity.queryIvfIndex(spark, p.ivfIndex, queries, 2, 3)
      .collect().toSeq.sortBy(_.getInt(3))

    IngestPipeline.compactIndexes(spark, p, 2L)
    assert(fpGens() == Seq("batch=2"), "fp generations folded to one")
    assert(cellFiles() < filesBefore, s"cell files must drop (before=$filesBefore, after=${cellFiles()})")
    assert(Similarity.queryIvfIndex(spark, p.ivfIndex, queries, 2, 3)
      .collect().toSeq.sortBy(_.getInt(3)) == servedBefore,
      "folding must commute with serving")
    // the fold may never outrun the manifest
    intercept[IllegalArgumentException] { IngestPipeline.compactIndexes(spark, p, 99L) }

    // the loop continues identically: a replayed duplicate still drops via
    // the folded index, and a fresh batch lands + appends a new generation
    val batch3 = Seq((31L, tB), (32L, "completely new sentence with enough words here"))
      .toDF("doc_id", "text")
    assert(IngestPipeline.ingestBatch(spark, p, batch3, 3L) == 1L)
    assert(fpGens() == Seq("batch=2", "batch=3"))
    assert(lakeState(p) == expectedLake :+ ((32L, 3L)))
  }

  // 16 bands × 4 rows ≈ 0.5 LSH threshold, needed for these short test
  // sentences (one-word changes are j ≈ 0.78 — under the production 8 × 8
  // banding they would correctly NOT band-collide)
  private val nearCfg = Some(IngestPipeline.NearDupConfig(nBands = 16, minEstJaccard = 0.5))

  test("near-dup stage: one-word-changed replays drop across batches; crash replay converges") {
    val p = tmpRoot()
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L, nearDup = nearCfg) == 2L)
    // 11: fresh; 12: ONE-WORD change of tB — the case the exact stage
    // cannot catch; 13: exact replay of tA, caught by the fp stage first
    val nb1 = Seq((11L, tC), (12L, tB.replace("dog", "cat")), (13L, tA)).toDF("doc_id", "text")
    assert(IngestPipeline.ingestBatch(spark, p, nb1, 1L, nearDup = nearCfg) == 1L)
    assert(lakeState(p) == Seq((1L, 0L), (2L, 0L), (11L, 1L)))
    // a near-replay of batch 1's survivor must drop via the APPENDED band
    // generation; a fresh doc still lands
    val nb2 = Seq((21L, tC.replace("rain", "snow")), (22L, tE)).toDF("doc_id", "text")
    assert(IngestPipeline.ingestBatch(spark, p, nb2, 2L, nearDup = nearCfg) == 1L)
    assert(lakeState(p) == Seq((1L, 0L), (2L, 0L), (11L, 1L), (22L, 2L)))

    // crash window: batch 3's lake + band writes landed, fp append and
    // manifest did not — the replay probes a band index already holding its
    // own generation, must recompute the SAME acceptance (own-batch
    // exclusion) and converge
    val nb3 = Seq((31L, tD), (32L, tD.replace("six", "ten"))).toDF("doc_id", "text")
    assert(IngestPipeline.ingestBatch(spark, p, nb3, 3L, nearDup = nearCfg) == 2L,
      "32 is near 31 but near-dup is HISTORY-only — intra-batch near-pairs both land")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p.manifest), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p.manifest), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"${p.fpIndex}/batch=3"), true)
    val before = lakeState(p)
    assert(IngestPipeline.ingestBatch(spark, p, nb3, 3L, nearDup = nearCfg) == 2L)
    assert(lakeState(p) == before, "replay must reproduce the identical lake state")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"${p.fpIndex}/batch=3")))
    assert(IngestPipeline.lastApplied(spark, p) == 3L)
  }

  test("semantic-dedup stage: embedding re-encodings drop, novel and unembedded docs land; crash replay is self-safe") {
    val p = tmpRoot()
    val semCfg = Some(IngestPipeline.SemanticDedupConfig(nProbe = 2, minSim = 0.95))
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val emb0 = Seq((1L, Seq(0.9f, 0.1f, 0f, 0f)), (2L, Seq(0.1f, 0.95f, 0.2f, 0f)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L, embedBatch = Some(emb0),
      semanticDedup = semCfg) == 2L)
    Similarity.writeIvfIndex(emb0, cents, p.ivfIndex)

    // batch 1: 11 = PARAPHRASE of doc 1 (different text — the band stage
    // would pass it — but the same embedding); 12 = exact text dup of 2,
    // owned by the fp stage before any vector probe; 13 = novel vector;
    // 14 = no embedding row at all (passes unprobed)
    val b1 = Seq((11L, tC), (12L, tB), (13L, tD), (14L, tE)).toDF("doc_id", "text")
    val emb1 = Seq((11L, Seq(0.9f, 0.1f, 0f, 0f)), (13L, Seq(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    // CRASH SIMULATION FIRST: a previous attempt at batch 1 appended 13's
    // vector to the index and died before the fp commit point. The replay
    // must not quarantine 13 against its own published copy (self-id
    // exclusion) while still dropping the paraphrase 11.
    Similarity.appendToIvfIndex(spark, p.ivfIndex, emb1.filter(col("vec_id") === 13L))
    assert(IngestPipeline.ingestBatch(spark, p, b1, 1L, embedBatch = Some(emb1),
      semanticDedup = semCfg) == 2L)
    assert(lakeState(p) == Seq((1L, 0L), (2L, 0L), (13L, 1L), (14L, 1L)))
    // the rejected paraphrase's vector never lands; 13's duplicate rows
    // (crash append + replay append) are absorbed at serve time
    val indexed = spark.read.parquet(s"${p.ivfIndex}/lists")
      .select("vec_id").distinct().as[Long].collect().toSeq.sorted
    assert(indexed == Seq(1L, 2L, 13L))
    val served = Similarity.queryIvfIndex(
      spark, p.ivfIndex, emb1.filter(col("vec_id") === 13L), nProbe = 2, k = 3)
    assert(served.filter(col("neighbor_id") === 13L).count() == 0,
      "self must not appear among its own neighbors")

    // replay of the COMMITTED batch is a pure no-op
    assert(IngestPipeline.ingestBatch(spark, p, b1, 1L, embedBatch = Some(emb1),
      semanticDedup = semCfg) == 0L)
    assert(IngestPipeline.lastApplied(spark, p) == 1L)
  }

  test("semantic-dedup: intra-batch near-pairs both land even when a crashed attempt appended their vectors") {
    val p = tmpRoot()
    val semCfg = Some(IngestPipeline.SemanticDedupConfig(nProbe = 2, minSim = 0.95))
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val emb0 = Seq((1L, Seq(0.9f, 0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    assert(IngestPipeline.ingestBatch(spark, p, Seq((1L, tA)).toDF("doc_id", "text"), 0L,
      embedBatch = Some(emb0), semanticDedup = semCfg) == 1L)
    Similarity.writeIvfIndex(emb0, cents, p.ivfIndex)

    // 21 and 22 are paraphrases of EACH OTHER (same embedding direction,
    // distinct text), similar to nothing in history. Near-dup acceptance is
    // HISTORY-only (the band stage's contract), so both must land — and
    // must KEEP landing when a crashed first attempt already appended both
    // vectors to the index: with only self-pairs excluded, each would find
    // the other's published vector on replay and both would drop, making
    // the replay land a SMALLER accepted set than the crashed attempt wrote.
    val b1 = Seq((21L, tD), (22L, tE)).toDF("doc_id", "text")
    val pairVec = Seq(0f, 0.95f, 0.3f, 0f)
    val emb1 = Seq((21L, pairVec), (22L, pairVec))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    Similarity.appendToIvfIndex(spark, p.ivfIndex, emb1) // the crashed attempt
    assert(IngestPipeline.ingestBatch(spark, p, b1, 1L,
      embedBatch = Some(emb1), semanticDedup = semCfg) == 2L,
      "mutually-similar batch docs must both land on a crash replay")
    assert(lakeState(p) == Seq((1L, 0L), (21L, 1L), (22L, 1L)))
  }

  test("ivf health: migration is SKIPPED when the embedding lake does not cover the index") {
    val p = tmpRoot()
    val dims = 16
    def oneHot(i: Int): Seq[Float] = Seq.tabulate(dims)(d => if (d == i) 1f else 0f)
    // embLake gets ONE vector (via a normal ingest)...
    val emb0 = Seq((1L, oneHot(0))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    IngestPipeline.ingestBatch(spark, p, Seq((1L, tA)).toDF("doc_id", "text"), 0L,
      embedBatch = Some(emb0))
    // ...but the index is installed OFFLINE over 76 vectors the lake has
    // never seen: 16 balanced + 60 concentrated in cell 0 (skew trips:
    // maxList*nCells = 61*16 = 976 > 10*76 = 760)
    val installed = (0 until dims).map(i => (100L + i, oneHot(i))) ++
      (0 until 60).map(j => (200L + j, Seq.tabulate(dims)(d =>
        if (d == 0) 1f else if (d == 1) 0.005f * j else 0f).toSeq))
    val instDf = installed.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    Similarity.writeIvfIndex(instDf, (0 until dims).map(i => oneHot(i).toArray).toArray, p.ivfIndex)

    val before = spark.read.parquet(s"${p.ivfIndex}/lists")
      .select("vec_id").as[Long].collect().toSeq.sorted
    val report = IngestPipeline.checkIndexHealth(spark, p, int8Health).get
    assert(!report.skewOk, s"skew must trip: $report")
    assert(!report.migrated,
      "migration from a 1-vector lake would DROP the 76 installed vectors — it must be skipped")
    val after = spark.read.parquet(s"${p.ivfIndex}/lists")
      .select("vec_id").as[Long].collect().toSeq.sorted
    assert(after == before, "the served index must be untouched")
  }

  test("decontamination stage: docs quoting an indexed eval suite never land; appended suites gate too") {
    val p = tmpRoot()
    val cfg = Some(IngestPipeline.DecontamConfig())
    // no eval index installed yet: the stage skips and the batch lands
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L, decontam = cfg) == 2L)
    // install the blocklist: one benchmark suite whose doc is tC
    Dedup.writeEvalIndex(Seq((900L, tC)).toDF("doc_id", "text"), p.evalIndex)
    // 11 embeds the suite's 9-token run inside longer prose (the exact
    // stage cannot catch a quote-with-context) → decontaminated; 13 clean
    val b1 = Seq((11L, s"leaked copy $tC with extra suffix words"), (13L, tD))
      .toDF("doc_id", "text")
    assert(IngestPipeline.ingestBatch(spark, p, b1, 1L, decontam = cfg) == 1L)
    assert(lakeState(p) == Seq((1L, 0L), (2L, 0L), (13L, 1L)))
    // committed replay no-ops
    assert(IngestPipeline.ingestBatch(spark, p, b1, 1L, decontam = cfg) == 0L)
    // a NEW benchmark appended to the blocklist gates later batches without
    // re-fingerprinting the first suite
    assert(Dedup.appendEvalIndex(
      Seq((901L, tE)).toDF("doc_id", "text"), p.evalIndex, generation = 1L))
    val b2 = Seq((21L, s"prefix $tE suffix tokens"),
      (22L, "completely novel content goes here today")).toDF("doc_id", "text")
    assert(IngestPipeline.ingestBatch(spark, p, b2, 2L, decontam = cfg) == 1L)
    assert(lakeState(p) ==
      Seq((1L, 0L), (2L, 0L), (13L, 1L), (22L, 2L)))
    assert(IngestPipeline.lastApplied(spark, p) == 2L)
  }

  test("retrieval decontamination stage: near-verbatim eval overlap never lands") {
    import graft.functions.Bm25
    val p = tmpRoot()
    val idx = s"${p.root}/bm25_eval_idx"
    val cfg = Some(IngestPipeline.RetrievalDecontamConfig(idx))
    // no index installed yet: strict (the default) FAILS the batch — a
    // mistyped user-supplied path must never ingest unscreened forever
    intercept[IllegalStateException] {
      IngestPipeline.ingestBatch(spark, p, batch0, 0L, retrievalDecontam = cfg)
    }
    // the explicit opt-out skips the stage (loudly) and the batch lands —
    // the bootstrap-before-install window
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L,
      retrievalDecontam = cfg.map(_.copy(strict = false))) == 2L)
    // install the shingle-grade suite index: ten docs so idf carries
    val evals = (0L until 10L).map { i =>
      (900L + i, (0 until 8).map(j => s"ev${i}x$j").mkString(" "))
    }.toDF("doc_id", "text")
    Bm25.buildIndex(evals, "text", "doc_id", idx, ngram = 2)
    // 31 is a light edit of suite doc 900 (winnowing-grade runs broken by
    // the lead token, but nearly every bigram survives); 32 is clean
    val b1 = Seq(
      (31L, "edited " + (0 until 8).map(j => s"ev0x$j").mkString(" ")),
      (32L, "fresh clean content with no suite overlap at all"))
      .toDF("doc_id", "text")
    var funnel: Option[IngestPipeline.FunnelReport] = None
    assert(IngestPipeline.ingestBatch(spark, p, b1, 1L, retrievalDecontam = cfg,
      funnelSink = Some(r => funnel = Some(r))) == 1L)
    val f = funnel.get
    assert(f.afterDecontam == 2L && f.afterRetrievalDecontam == 1L && f.accepted == 1L,
      f.toString)
    assert(lakeState(p) == Seq((1L, 0L), (2L, 0L), (32L, 1L)))
    // committed replay no-ops (the static blocklist is replay-trivial)
    assert(IngestPipeline.ingestBatch(spark, p, b1, 1L, retrievalDecontam = cfg) == 0L)
  }

  test("streaming entry with near-dup enabled drops near-replays exactly-once") {
    val p = tmpRoot()
    val ckpt = Files.createTempDirectory("graft-ingest-nd-ckpt").toString
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = IngestPipeline.start(
      stream.toDF().toDF("doc_id", "text"), p, ckpt, nearDup = nearCfg)
    try {
      stream.addData((1L, tA), (2L, tB))
      q.processAllAvailable()
      stream.addData((11L, tC), (12L, tB.replace("dog", "cat")), (13L, tA))
      q.processAllAvailable()
      assert(lakeState(p) == Seq((1L, 0L), (2L, 0L), (11L, 1L)),
        "the near-replay and the exact replay both drop; the fresh doc lands")
      assert(IngestPipeline.lastApplied(spark, p) == 1L)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(p.bandIndex), spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"${p.bandIndex}/bands/batch=1")),
        "the accepted micro-batch published its band generation")
    } finally q.stop()
  }

  test("streaming entry lands micro-batches exactly-once and grows the index") {
    val p = tmpRoot()
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt").toString
    implicit val ctx = spark.sqlContext
    def vec(i: Int) = Seq(1f / i, 1f - 1f / i, 0f, 0f)
    val stream = MemoryStream[(Long, String, Seq[Float])]
    val q = IngestPipeline.start(
      stream.toDF().toDF("doc_id", "text", "embedding"), p, ckpt)
    try {
      stream.addData((1L, tA, vec(1)), (2L, tB, vec(2)), (3L, "hi", vec(3)), (4L, tA, vec(4)))
      q.processAllAvailable()
      assert(lakeState(p) == expectedLake.filter(_._2 == 0))
      // index installed mid-stream (trained offline over the corpus so far);
      // later micro-batches grow it with their ACCEPTED docs' vectors
      Similarity.writeIvfIndex(
        Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
          .select(col("vec_id"), col("embedding").cast("array<float>")),
        Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f)), p.ivfIndex)
      stream.addData((11L, tC, vec(11)), (12L, tB, vec(12)), (13L, tD, vec(13)))
      q.processAllAvailable()
      assert(lakeState(p) == expectedLake.filter(_._2 <= 1))
      assert(IngestPipeline.lastApplied(spark, p) == 1L)
      val indexed = spark.read.parquet(s"${p.ivfIndex}/lists")
        .select("vec_id").as[Long].collect().toSeq.sorted
      assert(indexed == Seq(1L, 2L, 11L, 13L),
        "accepted docs' vectors appended; the duplicate doc 12's vector is not")
    } finally q.stop()
  }

  test("maintenance cadence keeps lake partitions and index generations bounded over a long run") {
    val p = tmpRoot()
    val ckpt = Files.createTempDirectory("graft-ingest-mx-ckpt").toString
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val everyN = 3
    val q = IngestPipeline.start(
      stream.toDF().toDF("doc_id", "text"), p, ckpt, nearDup = nearCfg,
      maintenance = Some(IngestPipeline.MaintenanceConfig(everyNBatches = everyN)))
    // 8 distinct-content micro-batches (ids 0..7): folds fire after batches
    // 3 and 6, so the run crosses the cadence twice. Every doc is unique
    // and quality-OK (≥5 distinct tokens), so all 16 land.
    // every token embeds (b, j), so distinct docs share ZERO tokens — the
    // nearCfg gate is a deliberately loose 0.5 (for the short near-replay
    // texts below) and any shared filler would make honest docs near-dups
    def doc(b: Int, j: Int): (Long, String) =
      (b * 100L + j,
        (0 until 7).map(t => s"u${b}x${j}t$t").mkString(" "))
    try {
      for (b <- 0 until 8) {
        stream.addData(doc(b, 1), doc(b, 2))
        q.processAllAvailable()
      }
      def gens(sub: String): Seq[String] = {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(p.root), spark.sparkContext.hadoopConfiguration)
        val path = new org.apache.hadoop.fs.Path(sub)
        if (!fs.exists(path)) Seq.empty
        else fs.listStatus(path).map(_.getPath.getName)
          .filter(_.startsWith("batch=")).sorted.toSeq
      }
      // last fold ran after batch 6 (manifest=6); batch 7 appended one more
      // partition/generation on top of each folded table — the live count
      // is the folded 1 + at most everyN un-folded, never the full history
      assert(verDirs(p).size <= everyN + 1,
        s"lake partitions unbounded: ${verDirs(p)}")
      assert(gens(p.fpIndex).size <= everyN + 1,
        s"fp generations unbounded: ${gens(p.fpIndex)}")
      assert(gens(s"${p.bandIndex}/sigs").size <= everyN + 1,
        s"sig generations unbounded: ${gens(s"${p.bandIndex}/sigs")}")
      assert(gens(s"${p.bandIndex}/bands").size <= everyN + 1,
        s"band generations unbounded: ${gens(s"${p.bandIndex}/bands")}")
      // the folds preserved content: all 16 unique docs, exactly once each
      val lake = spark.read.parquet(p.docLake).select("doc_id").as[Long].collect().sorted
      assert(lake.toSeq == (0 until 8).flatMap(b => Seq(b * 100L + 1, b * 100L + 2)).sorted)
      // ... and the folded indexes still serve: an exact replay of a doc
      // folded three cadences ago and a near-replay of another both drop
      stream.addData((9001L, doc(0, 1)._2), (9002L, doc(1, 2)._2 + " tail"))
      q.processAllAvailable()
      val after = spark.read.parquet(p.docLake).select("doc_id").as[Long].collect()
      assert(!after.contains(9001L), "exact replay must drop via the folded fp index")
      assert(!after.contains(9002L), "near-replay must drop via the folded band index")
    } finally q.stop()
  }

  test("ivf health monitor trips on drift and the loop migrates + serves correctly") {
    val p = tmpRoot()
    val dims = 16
    def oneHot(i: Int): Seq[Float] =
      Seq.tabulate(dims)(d => if (d == i) 1f else 0f)
    // drift vector j: dominated by e0 with a DISTINCT strong secondary
    // component — pre-migration every one of them assigns to cell 0
    // (cos≈0.75 with e0 beats cos≈0.65 with its secondary one-hot), so
    // appends concentrate; post-retrain the secondaries separate them
    def drift(j: Int): Seq[Float] = {
      val sec = 1 + (j % (dims - 1))
      val w = 0.85f + 0.005f * (j / (dims - 1)) // unique weight per cycle
      Seq.tabulate(dims)(d => if (d == 0) 1f else if (d == sec) w else 0f)
    }
    def docText(id: Long): String =
      (0 until 7).map(t => s"hx${id}t$t").mkString(" ")
    def docsDf(ids: Seq[Long]) =
      ids.map(i => (i, docText(i))).toDF("doc_id", "text")
    def embDf(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))

    // batch 0: the initial corpus — one vector per cell, HIGH ids (so a
    // later retrain's lowest-id init seeds from the drifted mass instead
    // of re-anchoring on the original one-hots)
    val initIds = (0 until dims).map(i => 1000L + i)
    IngestPipeline.ingestBatch(spark, p, docsDf(initIds), 0L,
      embedBatch = Some(embDf(initIds.zipWithIndex.map { case (id, i) => (id, oneHot(i)) })))
    // install the served index: trained on the corpus so far (balanced)
    Similarity.writeIvfIndex(
      spark.read.parquet(p.embLake).drop("__ver"),
      (0 until dims).map(i => oneHot(i).toArray).toArray, p.ivfIndex)

    // batches 1-3: the corpus drifts — 48 vectors, all nearest e0
    for (b <- 1 to 3) {
      val ids = (0 until dims).map(i => ((b - 1) * dims + i).toLong)
      IngestPipeline.ingestBatch(spark, p, docsDf(ids), b.toLong,
        embedBatch = Some(embDf(ids.map(id => (id, drift(id.toInt))))))
    }
    val lists = spark.read.parquet(s"${p.ivfIndex}/lists")
    assert(lists.filter(col("cell_id") === 0).count() == 49,
      "every drifted append must have concentrated into cell 0")

    // the maintenance cadence runs the monitor: skew trips
    // (49 × 16 = 784 > 10 × 64), the loop migrates
    val report = IngestPipeline.maintain(spark, p, Seq(int8Health)).loneElement
    assert(!report.skewOk && report.migrated)
    assert(report.nCells == 16 && report.nVecs == 64 && report.maxList == 49)

    // the migrated index holds exactly the accepted corpus, retrained on
    // the float-embedding lake: the drifted mass now separates by its
    // secondary components, so the SAME monitor comes back healthy and
    // does not re-migrate
    val migrated = spark.read.parquet(s"${p.ivfIndex}/lists")
    assert(migrated.select("vec_id").as[Long].collect().toSeq.sorted ==
      ((0L until 48L) ++ initIds).sorted)
    val after = IngestPipeline.checkIndexHealth(spark, p, int8Health).get
    assert(after.skewOk && after.recallOk && !after.migrated,
      s"monitor must be healthy after migration: $after")

    // ...and the migrated index SERVES correctly: probing all cells equals
    // the exhaustive int8 ranking (recall k × nq exactly)
    val probes = spark.read.parquet(p.embLake).drop("__ver")
      .filter(col("vec_id") < 3)
    val hits = Similarity.ivfIndexRecall(spark, p.ivfIndex, probes, nProbe = dims, k = 5)
      .agg(sum("hits")).head().getLong(0)
    assert(hits == 3L * 5L, "full-probe serve must equal the exhaustive ranking")
  }

  test("pq health monitor trips on drift and the loop migrates the IVF-PQ index") {
    val p = tmpRoot()
    val dims = 16
    def oneHot(i: Int): Seq[Float] =
      Seq.tabulate(dims)(d => if (d == i) 1f else 0f)
    def drift(j: Int): Seq[Float] = {
      val sec = 1 + (j % (dims - 1))
      val w = 0.85f + 0.005f * (j / (dims - 1))
      Seq.tabulate(dims)(d => if (d == 0) 1f else if (d == sec) w else 0f)
    }
    def docText(id: Long): String =
      (0 until 7).map(t => s"px${id}t$t").mkString(" ")
    def docsDf(ids: Seq[Long]) =
      ids.map(i => (i, docText(i))).toDF("doc_id", "text")
    def embDf(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))

    val initIds = (0 until dims).map(i => 1000L + i)
    IngestPipeline.ingestBatch(spark, p, docsDf(initIds), 0L,
      embedBatch = Some(embDf(initIds.zipWithIndex.map { case (id, i) => (id, oneHot(i)) })))
    val install = spark.read.parquet(p.embLake).drop("__ver")
    val model = Pq.train(install, Pq.initCodebooks(install, dims, m = 4, k = 8), iters = 2)
    Pq.writeIvfPqIndex(install,
      (0 until dims).map(i => oneHot(i).toArray).toArray, model, p.ivfPqIndex)

    for (b <- 1 to 3) {
      val ids = (0 until dims).map(i => ((b - 1) * dims + i).toLong)
      IngestPipeline.ingestBatch(spark, p, docsDf(ids), b.toLong,
        embedBatch = Some(embDf(ids.map(id => (id, drift(id.toInt))))))
    }
    assert(spark.read.parquet(s"${p.ivfPqIndex}/lists")
      .filter(col("cell_id") === 0).count() == 49,
      "every drifted append must have concentrated into cell 0")

    // skew trips (49 × 16 > 10 × 64); the loop migrates BOTH models.
    // The recall floor is 30 FOR THIS FIXTURE: near-one-hot synthetic
    // vectors collapse onto few PQ codes (m=4, k=8 over 16 dims), so the
    // exhaustive-ADC top-k tie-breaks across cells and pruned recall is
    // structurally ~35-40% — the realistic-corpus floors live in q93
    // (measured 0.71-0.83); what this test pins is trip → migrate →
    // healthy, not an absolute recall
    val cfg = IngestPipeline.HealthConfig(IvfFamily.IvfPq, minRecallPct = Some(30))
    val report = IngestPipeline.checkIndexHealth(spark, p, cfg).get
    assert(!report.skewOk && report.migrated)
    assert(report.nCells == 16 && report.nVecs == 64 && report.maxList == 49)

    // post-migration: residents = the accepted corpus, codebook shape kept,
    // and the same monitor comes back healthy
    val migrated = spark.read.parquet(s"${p.ivfPqIndex}/lists")
    assert(migrated.select("vec_id").as[Long].collect().toSeq.sorted ==
      ((0L until 48L) ++ initIds).sorted)
    val newModel = Pq.readPqModel(spark, p.ivfPqIndex)
    assert(newModel.dims == dims && newModel.m == 4 && newModel.k == 8)
    val after = IngestPipeline.checkIndexHealth(spark, p, cfg).get
    assert(after.skewOk && after.recallOk && !after.migrated,
      s"monitor must be healthy after migration: $after")

    // full-probe serve equals the exhaustive ADC ranking on the new index
    val probes = install.filter(col("vec_id") >= 1000L && col("vec_id") < 1003L)
    val hits = Pq.ivfPqIndexRecall(spark, p.ivfPqIndex, probes, nProbe = dims, k = 5)
      .agg(sum("hits")).head().getLong(0)
    assert(hits == 3L * 5L)
  }

  test("pq health: migration is SKIPPED when the embedding lake does not cover the index") {
    val p = tmpRoot()
    val dims = 4
    def emb(id: Long, v: Seq[Float]) = (id, v)
    // an index installed OFFLINE over vectors the loop never ingested
    val offline = Seq(
      emb(500L, Seq(1f, 0f, 0f, 0f)), emb(501L, Seq(0.9f, 0.1f, 0f, 0f)),
      emb(502L, Seq(0.8f, 0.2f, 0f, 0f)), emb(503L, Seq(0.95f, 0f, 0.1f, 0f)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    val model = Pq.train(offline, Pq.initCodebooks(offline, dims, m = 2, k = 2), iters = 1)
    // one-cell model: everything concentrates, so skew can never trip, but
    // the recall clamp keeps the gate honest; force a trip via skew with a
    // 2-cell model whose residents all land in cell 0
    Pq.writeIvfPqIndex(offline,
      Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f)), model, p.ivfPqIndex)
    // the loop lands ONE unrelated embedding (so the lake exists but does
    // not cover the offline residents)
    IngestPipeline.ingestBatch(spark, p,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), 0L,
      embedBatch = Some(Seq(emb(1L, Seq(0.1f, 0.9f, 0f, 0f)))
        .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))))
    val report = IngestPipeline.checkIndexHealth(
      spark, p, IngestPipeline.HealthConfig(IvfFamily.IvfPq, maxSkewRatio = 1)).get
    assert(!report.skewOk && !report.migrated,
      s"uncovered lake must skip migration: $report")
    // the offline residents still serve — nothing was dropped
    assert(spark.read.parquet(s"${p.ivfPqIndex}/lists").count() == 5L)
  }

  test("maintain monitors both IVF families over one drifted lake and reports each") {
    val p = tmpRoot()
    val dims = 16
    def oneHot(i: Int): Seq[Float] =
      Seq.tabulate(dims)(d => if (d == i) 1f else 0f)
    def drift(j: Int): Seq[Float] = {
      val sec = 1 + (j % (dims - 1))
      val w = 0.85f + 0.005f * (j / (dims - 1))
      Seq.tabulate(dims)(d => if (d == 0) 1f else if (d == sec) w else 0f)
    }
    def docsDf(ids: Seq[Long]) =
      ids.map(i => (i, (0 until 7).map(t => s"bx${i}t$t").mkString(" "))).toDF("doc_id", "text")
    def embDf(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))

    // one balanced corpus, both serving indexes installed over it
    val initIds = (0 until dims).map(i => 1000L + i)
    IngestPipeline.ingestBatch(spark, p, docsDf(initIds), 0L,
      embedBatch = Some(embDf(initIds.zipWithIndex.map { case (id, i) => (id, oneHot(i)) })))
    val install = spark.read.parquet(p.embLake).drop("__ver")
    val centroids = (0 until dims).map(i => oneHot(i).toArray).toArray
    Similarity.writeIvfIndex(install, centroids, p.ivfIndex)
    val model = Pq.train(install, Pq.initCodebooks(install, dims, m = 4, k = 8), iters = 2)
    Pq.writeIvfPqIndex(install, centroids, model, p.ivfPqIndex)

    // the corpus drifts: every append concentrates into cell 0 of BOTH indexes
    for (b <- 1 to 3) {
      val ids = (0 until dims).map(i => ((b - 1) * dims + i).toLong)
      IngestPipeline.ingestBatch(spark, p, docsDf(ids), b.toLong,
        embedBatch = Some(embDf(ids.map(id => (id, drift(id.toInt))))))
    }

    val reports = IngestPipeline.maintain(spark, p,
      Seq(int8Health, IngestPipeline.HealthConfig(IvfFamily.IvfPq)))
    assert(reports.map(_.family) == Seq(IvfFamily.Int8, IvfFamily.IvfPq))
    reports.foreach { r =>
      assert(!r.skewOk && r.migrated, s"both monitors must trip and migrate: $r")
      assert(r.nCells == 16 && r.nVecs == 64 && r.maxList == 49, r.toString)
    }
    val corpus = ((0L until 48L) ++ initIds).sorted
    Seq(p.ivfIndex, p.ivfPqIndex).foreach { ix =>
      assert(spark.read.parquet(s"$ix/lists").select("vec_id").as[Long]
        .collect().toSeq.sorted == corpus, ix)
    }
  }

  test("ingest, both health monitors and readCommitted work under a root whose name has a space") {
    val p = IngestPaths(Files.createTempDirectory("graft-ingest").toString + "/ingest root")
    val dims = 4
    def embDf(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))
    val nearDup = Some(IngestPipeline.NearDupConfig())
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L, nearDup = nearDup,
      embedBatch = Some(embDf(Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))))) == 2L)
    val install = spark.read.parquet(p.embLake).drop("__ver")
    val centroids = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    Similarity.writeIvfIndex(install, centroids, p.ivfIndex)
    Pq.writeIvfPqIndex(install, centroids,
      Pq.train(install, Pq.initCodebooks(install, dims, m = 2, k = 2), iters = 1), p.ivfPqIndex)
    assert(IngestPipeline.ingestBatch(spark, p, batch1, 1L, nearDup = nearDup,
      embedBatch = Some(embDf(Seq((11L, Seq(0f, 0f, 1f, 0f)), (13L, Seq(0f, 0f, 0f, 1f)))))) == 2L)

    val reports = IngestPipeline.maintain(spark, p,
      Seq(int8Health, IngestPipeline.HealthConfig(IvfFamily.IvfPq)))
    assert(reports.map(_.family) == Seq(IvfFamily.Int8, IvfFamily.IvfPq))
    assert(reports.forall(_.nVecs == 4L), reports.toString)
    assert(IngestPipeline.readCommitted(spark, p).select("doc_id").as[Long]
      .collect().toSeq.sorted == Seq(1L, 2L, 11L, 13L))
  }

  test("span-scrub stage: a span going hot is scrubbed from later batches, counted post-scrub, crash-replay stable") {
    val p = tmpRoot()
    val scrub = Some(IngestPipeline.SpanScrubConfig(k = 4, minCount = 3L))
    val boiler = "click here subscribe now"
    // batch 0 (bootstrap install — no scrub): two aligned occurrences
    assert(IngestPipeline.ingestBatch(spark, p,
      Seq((1L, s"$boiler alpha beta gamma delta"),
          (2L, s"$boiler quick brown fox jumps")).toDF("doc_id", "text"),
      0L, spanScrub = scrub) == 2L)
    assert(Dedup.spanCountIndexReadable(spark, p.spanIndex))
    // batch 1: third occurrence — but the hot list has NOT refreshed, so
    // doc 11 lands UNscrubbed (freshness/stability trade, documented)
    assert(IngestPipeline.ingestBatch(spark, p,
      Seq((11L, s"$boiler rain in spain stays")).toDF("doc_id", "text"),
      1L, spanScrub = scrub) == 1L)
    assert(spark.read.parquet(p.docLake).filter(col("doc_id") === 11L)
      .select("text").as[String].head().startsWith(boiler))
    // maintenance refreshes the list: 3 occurrences >= minCount -> hot
    IngestPipeline.maintain(spark, p)
    assert(Dedup.readHotSpanList(spark, p.spanIndex).count() == 1L)
    // batch 2: doc 21 lands scrubbed; doc 22 is ALL boilerplate — the
    // rewrite empties it and the quality gate rejects it post-scrub
    assert(IngestPipeline.ingestBatch(spark, p,
      Seq((21L, s"$boiler one two three four five six"),
          (22L, s"$boiler $boiler")).toDF("doc_id", "text"),
      2L, spanScrub = scrub) == 1L)
    val landed = spark.read.parquet(p.docLake).filter(col("doc_id") === 21L)
      .select("text").as[String].head()
    assert(landed == "one two three four five six")
    // counts describe the LAKE text: batch 2's generation carries no
    // occurrence of the boiler span (it was scrubbed before counting)
    val boilerHash = Seq(boiler).toDF("ch")
      .select(Dedup.tokenHash64(col("ch"))).as[Long].head()
    val gen2 = spark.read.parquet(s"${p.spanIndex}/counts")
      .filter(col("batch") === 2 && col("h") === boilerHash)
    assert(gen2.count() == 0L)
    // crash window: batch 3's span counts already published, fp append not
    // yet — the replay must no-op the publish and accept identically
    val b3 = Seq((31L, "tail batch text with unique tokens here")).toDF("doc_id", "text")
    assert(Dedup.appendSpanCounts(b3, p.spanIndex, 3L))
    assert(IngestPipeline.ingestBatch(spark, p, b3, 3L, spanScrub = scrub) == 1L)
    assert(IngestPipeline.lastApplied(spark, p) == 3L)
    // maintenance folds the count generations like every other index
    IngestPipeline.maintain(spark, p)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p.root), spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(s"${p.spanIndex}/counts"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    assert(gens == Seq("batch=3"), s"expected one folded generation, got $gens")
    // ... and the folded totals still gate: the boiler span stays hot
    assert(Dedup.readHotSpanList(spark, p.spanIndex).as[Long].collect().toSeq ==
      Seq(boilerHash))
  }

  test("span-scrub bootstrap renders arming-independently (replay fp-stable)") {
    val p = tmpRoot()
    val scrub = Some(IngestPipeline.SpanScrubConfig(k = 4, minCount = 3L))
    // irregular whitespace: the BOOTSTRAP batch must land the same
    // single-spaced rendering every post-bootstrap batch produces.
    // Otherwise a crash between the span-count publish and the fp commit
    // replays with spanBootstrap=false, and the replay's re-render computes
    // different text and a different __fp than the landed rows and the
    // already-published generation-0 counts (round-11 advice).
    val messy = "alpha   beta  gamma delta epsilon zeta"
    assert(IngestPipeline.ingestBatch(spark, p,
      Seq((1L, messy)).toDF("doc_id", "text"), 0L, spanScrub = scrub) == 1L)
    val landed = spark.read.parquet(p.docLake).select("text").as[String].head()
    assert(landed == "alpha beta gamma delta epsilon zeta",
      s"bootstrap must single-space like every later batch, got '$landed'")
    // steady state renders the same messy doc to the same text, so the fp
    // probe catches it as an exact duplicate — the cross-arming fp match
    // that the verbatim bootstrap used to break
    assert(IngestPipeline.ingestBatch(spark, p,
      Seq((2L, messy)).toDF("doc_id", "text"), 1L, spanScrub = scrub) == 0L)
  }

  test("model quality gate rejects below-threshold docs beside the heuristic filter") {
    import graft.functions.QualityClassifier
    val allNeg = IngestPipeline.QualityGateConfig(
      QualityClassifier.Model(Array.fill(64)(-1L), bias = 0L))
    val allPos = IngestPipeline.QualityGateConfig(
      QualityClassifier.Model(Array.fill(64)(1L), bias = 0L))

    // every doc scores -10000 under the all-negative model -> all rejected
    val p1 = tmpRoot()
    assert(IngestPipeline.ingestBatch(spark, p1,
      Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"), 0L,
      qualityGate = Some(allNeg)) == 0L)

    // all-positive model keeps everything the heuristic filter kept: the
    // "hi" row still dies on the TOO_SHORT heuristic, not the model
    val p2 = tmpRoot()
    assert(IngestPipeline.ingestBatch(spark, p2,
      Seq((1L, tA), (2L, tB), (3L, "hi")).toDF("doc_id", "text"), 0L,
      qualityGate = Some(allPos)) == 2L)
    // gate bookkeeping columns never land in the lake
    val landed = spark.read.parquet(p2.docLake)
    assert(!landed.columns.exists(Set("n_feats", "score_e4", "label")))

    // a selective threshold keeps exactly the docs scoring >= min: with
    // uniform +1 weights every doc scores exactly 10000, so a threshold
    // above it rejects all and at it keeps all — pinning >= (not >)
    val p3 = tmpRoot()
    assert(IngestPipeline.ingestBatch(spark, p3,
      Seq((1L, tA)).toDF("doc_id", "text"), 0L,
      qualityGate = Some(allPos.copy(minScoreE4 = 10001L))) == 0L)
    val p4 = tmpRoot()
    assert(IngestPipeline.ingestBatch(spark, p4,
      Seq((1L, tA)).toDF("doc_id", "text"), 0L,
      qualityGate = Some(allPos.copy(minScoreE4 = 10000L))) == 1L)
  }

  test("lang-id gate keeps only configured classes and reports in the funnel") {
    import graft.functions.QualityClassifier
    // two classes with unmistakable marker vocabularies, trained via the
    // q116 multi-class centroid fit
    val train = (0L until 12L).flatMap { i =>
      Seq((s"sample $i the of and to in", "en"),
        (s"probe $i der die das und zu", "de"))
    }.toDF("text", "lbl")
    val models = QualityClassifier.trainCentroidMulti(train, "text", "lbl")
    val batch = Seq(
      (1L, "sample text the of and to in extra"),
      (2L, "probe text der die das und zu extra")).toDF("doc_id", "text")
    val p = tmpRoot()
    var funnel: Option[IngestPipeline.FunnelReport] = None
    assert(IngestPipeline.ingestBatch(spark, p, batch, 0L,
      langGate = Some(IngestPipeline.LangGateConfig(models, Set("en"))),
      funnelSink = Some(r => funnel = Some(r))) == 1L)
    val f = funnel.get
    assert(f.input == 2L && f.afterLang == 1L && f.accepted == 1L, f.toString)
    val landed = spark.read.parquet(p.docLake)
    assert(landed.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(!landed.columns.exists(c => c.startsWith("score_") || c == "pred"),
      "gate bookkeeping columns never land in the lake")
    // misconfigured keep sets fail loudly at construction, not mid-stream
    intercept[IllegalArgumentException](
      IngestPipeline.LangGateConfig(models, Set.empty))
    intercept[IllegalArgumentException](
      IngestPipeline.LangGateConfig(models, Set("fr")))

    // a batch already carrying a gate bookkeeping column is rejected
    // loudly — withColumn would silently overwrite it and the restoring
    // select would land gate values as the user's data (round-14 advice)
    val collidingLang = Seq((1L, "sample the of and", "x"))
      .toDF("doc_id", "text", "pred")
    val eLang = intercept[IllegalArgumentException](
      IngestPipeline.ingestBatch(spark, tmpRoot(), collidingLang, 0L,
        langGate = Some(IngestPipeline.LangGateConfig(models, Set("en")))))
    assert(eLang.getMessage.contains("pred"), eLang.getMessage)
    val collidingQuality = Seq((1L, "sample the of and", 7L))
      .toDF("doc_id", "text", "score_e4")
    val eQ = intercept[IllegalArgumentException](
      IngestPipeline.ingestBatch(spark, tmpRoot(), collidingQuality, 0L,
        qualityGate = Some(IngestPipeline.QualityGateConfig(
          QualityClassifier.Model(Array.fill(16)(1L), 0L), 0L))))
    assert(eQ.getMessage.contains("score_e4"), eQ.getMessage)
    // the gates' INTERNAL scratch names are reserved too — classify's
    // "__q" would be silently replaced then dropped (review finding)
    val collidingScratch = Seq((1L, "sample the of and", "mine"))
      .toDF("doc_id", "text", "__q")
    val eS = intercept[IllegalArgumentException](
      IngestPipeline.ingestBatch(spark, tmpRoot(), collidingScratch, 0L,
        qualityGate = Some(IngestPipeline.QualityGateConfig(
          QualityClassifier.Model(Array.fill(16)(1L), 0L), 0L))))
    assert(eS.getMessage.contains("__q"), eS.getMessage)
  }

  test("funnel report telescopes stage survivor counts") {
    val p = tmpRoot()
    var funnel: Option[IngestPipeline.FunnelReport] = None
    // batch0: 4 rows in — "hi" dies on quality, dup of tA dies intra-batch
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L,
      funnelSink = Some(r => funnel = Some(r))) == 2L)
    val f = funnel.get
    assert(f.batchId == 0L && f.input == 4L && f.afterQuality == 3L)
    assert(f.afterClassifier == 3L && f.afterPerplexity == 3L,
      "unconfigured gates drop nothing")
    assert(f.afterIntraDedup == 2L && f.accepted == 2L)
    // batch1: a replay-fresh batch carrying one exact-index duplicate
    funnel = None
    assert(IngestPipeline.ingestBatch(spark, p,
      Seq((10L, tB), (11L, tC)).toDF("doc_id", "text"), 1L,
      funnelSink = Some(r => funnel = Some(r))) == 1L)
    val f1 = funnel.get
    assert(f1.input == 2L && f1.afterIntraDedup == 2L && f1.afterExactIndex == 1L
      && f1.accepted == 1L, f1.toString)
    // a replayed committed batch never reports (it no-ops before the DAG)
    funnel = None
    assert(IngestPipeline.ingestBatch(spark, p, batch0, 0L,
      funnelSink = Some(r => funnel = Some(r))) == 0L)
    assert(funnel.isEmpty)
  }

  test("perplexity gate rejects out-of-distribution docs against the installed LM") {
    import graft.functions.LangModel
    val lmDir = Files.createTempDirectory("ingest-lm").toString
    // reference corpus: tB repeated — its transitions are cheap under the
    // model; a scrambled word salad is expensive
    LangModel.train(
      (0L until 30L).map(i => (i, tB)).toDF("doc_id", "text"), "text", s"$lmDir/m")
    val scores = LangModel.scoreDocs(
      Seq((1L, tB), (2L, "dog lazy jumps the fox brown quick the over"))
        .toDF("doc_id", "text"), "text", "doc_id", s"$lmDir/m")
      .orderBy("doc_id").collect().map(_.getAs[Long]("ppl_e4"))
    assert(scores(0) < scores(1), s"fluent must score lower: ${scores.toSeq}")
    val threshold = (scores(0) + scores(1)) / 2
    val p = tmpRoot()
    assert(IngestPipeline.ingestBatch(spark, p,
      Seq((1L, tB), (2L, "dog lazy jumps the fox brown quick the over"))
        .toDF("doc_id", "text"), 0L,
      perplexityGate = Some(IngestPipeline.PerplexityGateConfig(s"$lmDir/m", threshold)))
      == 1L)
    assert(spark.read.parquet(p.docLake).select("doc_id").head().getLong(0) == 1L)
  }

  test("all gates in one batch: each drops exactly its own plant, only the control lands") {
    import graft.functions.{LangModel, QualityClassifier}
    val p = tmpRoot()
    def vecs(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    // history: the fp and band indexes bootstrap from batch 0, then the
    // eval blocklist and the IVF index over batch 0's vectors are installed
    val hist = Seq((1L, tA), (2L, tB), (3L, tE)).toDF("doc_id", "text")
    val histEmb = vecs((1L, Seq(0.9f, 0.1f, 0f, 0f)), (2L, Seq(0.1f, 0.95f, 0.2f, 0f)))
    assert(IngestPipeline.ingestBatch(spark, p, hist, 0L, embedBatch = Some(histEmb),
      nearDup = nearCfg) == 3L)
    Dedup.writeEvalIndex(Seq((900L, tC)).toDF("doc_id", "text"), p.evalIndex)
    Similarity.writeIvfIndex(histEmb,
      Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f)), p.ivfIndex)

    // one plant per gate, plus the control
    val poison = Seq.fill(12)("qpoison").mkString(" ") + " filler words here now"
    val gibberish = "the zzqa the zzqb the zzqc the zzqd the zzqe"
    val b1 = Seq(
      (101L, "completely novel content goes here today"), // control
      (102L, tA),                                         // exact replay
      (103L, tB.replace("dog", "cat")),                   // one-word near-replay
      (104L, s"leaked copy $tC with extra suffix words"), // verbatim eval quote
      (105L, tD),                                         // copies doc 1's embedding
      (106L, poison),                                     // poisoned features
      (107L, gibberish)                                   // out of the LM's distribution
    ).toDF("doc_id", "text")
    val b1Emb = vecs((101L, Seq(0f, 0f, 1f, 0f)), (105L, Seq(0.9f, 0.1f, 0f, 0f)))

    // the classifier: +1 everywhere but the two poison buckets, so the
    // plant (23 of its 31 features poisoned) scores about -4800 and every
    // other doc +10000
    val w = Array.fill(QualityClassifier.DefaultDim)(1L)
    Seq("qpoison", "qpoison qpoison").foreach(f =>
      w(QualityClassifier.featureBucket(f, w.length)) = -1L)
    val quality = IngestPipeline.QualityGateConfig(QualityClassifier.Model(w, 0L), -2000L)
    assert(QualityClassifier.classify(b1, "text", quality.model, quality.minScoreE4)
      .filter(col("label") =!= "keep").select("doc_id").as[Long].collect().toSeq == Seq(106L))
    // the LM learns every fluent text of this spec; the threshold sits
    // midway between the worst fluent doc and the gibberish
    val fluent = b1.filter(!col("doc_id").isin(106L, 107L)).unionByName(hist)
    val lm = s"${p.root}/lm"
    LangModel.train(fluent, "text", lm)
    def ppl(df: DataFrame) = LangModel.scoreDocs(df, "text", "doc_id", lm)
      .agg(min("ppl_e4"), max("ppl_e4")).head()
    val worstFluent = ppl(fluent).getLong(1)
    val gib = ppl(b1.filter(col("doc_id") === 107L)).getLong(0)
    assert(worstFluent < gib, s"no perplexity separation: $worstFluent vs $gib")
    val perplexity = IngestPipeline.PerplexityGateConfig(lm, (worstFluent + gib) / 2)

    var funnel: Option[IngestPipeline.FunnelReport] = None
    assert(IngestPipeline.ingestBatch(spark, p, b1, 1L,
      embedBatch = Some(b1Emb),
      nearDup = nearCfg,
      semanticDedup = Some(IngestPipeline.SemanticDedupConfig(nProbe = 2, minSim = 0.95)),
      decontam = Some(IngestPipeline.DecontamConfig()),
      qualityGate = Some(quality),
      perplexityGate = Some(perplexity),
      funnelSink = Some(r => funnel = Some(r))) == 1L)
    assert(lakeState(p) == Seq((1L, 0L), (2L, 0L), (3L, 0L), (101L, 1L)))
    val f = funnel.get
    // input 7: the classifier drops the poison, perplexity the gibberish,
    // the fp index the replay, decontam the quote, the band index the
    // near-replay and the vector gate the copied embedding
    assert(Seq(f.input, f.afterLang, f.afterQuality, f.afterClassifier, f.afterPerplexity,
      f.afterIntraDedup, f.afterExactIndex, f.afterDecontam, f.afterRetrievalDecontam,
      f.afterNearDup, f.accepted) == Seq(7L, 7L, 7L, 6L, 5L, 5L, 4L, 3L, 3L, 2L, 1L), f.toString)
  }

  test("feed-cardinality sketch: loop equals full-rescan, duplicate feeds are " +
      "no-ops, k is part of the artifact identity") {
    import graft.functions.Kmv
    val p = tmpRoot()
    val cfg = IngestPipeline.CardSketchConfig(k = 8)
    // no sketch yet: the read surface is loud, not a silent zero
    val miss = intercept[IllegalStateException](
      IngestPipeline.feedCardinality(spark, p))
    assert(miss.getMessage.contains("no feed sketch"))
    IngestPipeline.ingestBatch(spark, p, batch0, 0L, cardSketch = Some(cfg))
    IngestPipeline.ingestBatch(spark, p, batch1, 1L, cardSketch = Some(cfg))
    IngestPipeline.ingestBatch(spark, p, batch2, 2L, cardSketch = Some(cfg))
    // the sketch saw the FEED (quality rejects and duplicates included):
    // distinct offered texts = tA,tB,"hi",tC,tD,tE,"ok" = 7 < k -> exact
    val s = IngestPipeline.feedCardinality(spark, p)
    assert(s == Kmv.KmvSummary(7L, 0L, 7L))
    // equals the one-shot sketch over the concatenated feed
    val direct = batch0.unionByName(batch1).unionByName(batch2)
      .select(Dedup.tokenHash64(col("text")).as("h")).as[Long]
      .select(new Kmv.Sketch(8).toColumn).head()
    assert(s == direct)
    // a batch re-offering ONLY known texts moves nothing (union of minima)
    IngestPipeline.ingestBatch(spark, p,
      Seq((31L, tA), (32L, tE)).toDF("doc_id", "text"), 3L,
      cardSketch = Some(cfg))
    assert(IngestPipeline.feedCardinality(spark, p) == s)
    // a committed-batch replay skips the fold entirely (returns 0 rows)
    assert(IngestPipeline.ingestBatch(spark, p, batch1, 1L,
      cardSketch = Some(cfg)) == 0L)
    assert(IngestPipeline.feedCardinality(spark, p) == s)
    // a different k against the same artifact is refused, not widened
    val e = intercept[IllegalArgumentException](
      IngestPipeline.ingestBatch(spark, p,
        Seq((41L, tD)).toDF("doc_id", "text"), 4L,
        cardSketch = Some(IngestPipeline.CardSketchConfig(k = 16))))
    assert(e.getMessage.contains("k=8"))
  }
}
