package graft.sinks

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{Bm25, Dedup, IndexProtocol, LangModel, PersistedIndex}
import graft.pipeline.IngestPipeline
import graft.pipeline.IngestPipeline.IngestPaths

/** The rename-failure matrix of the staged-swap protocol: for every
  * operation built on [[Sinks.replaceTable]] / [[Sinks.replacePartitions]]
  * / [[Sinks.foldPartitions]] and every protocol rename N it makes,
  * refusing rename N must fail the operation; the operation's documented
  * recovery followed by a re-run must then reach exactly a clean run's
  * state and leave no staging or trash directory behind.
  */
class SwapMatrixSpec extends SparkSpec {
  import spark.implicits._

  /** One operation under test. `setup` lays down the state `run` changes
    * under a fresh root, `recover` is the documented recovery, and `state`
    * reads the outcome as root-independent sorted lines. `renames` is the
    * number of protocol renames a clean `run` makes.
    */
  private case class Op(
      name: String,
      renames: Int,
      setup: String => Unit,
      run: String => Unit,
      recover: String => Unit,
      state: String => Seq[String])

  private def freshRoot(): String = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.norename.impl", classOf[RefusingRenameFileSystem].getName)
    "norename://" + Files.createTempDirectory("graft-swap").toString
  }

  private def localPath(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString(",")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** Names under `dir`, one level deep — a table's partition or generation
    * directories. */
  private def dirNames(dir: String): Seq[String] =
    Files.list(Paths.get(localPath(dir))).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq.sorted

  /** Every staging or trash path or fold intent marker left anywhere
    * under `root`. */
  private def leftovers(root: String): Seq[String] = {
    val staged = ".*__(tmp|next|compact_tmp|old|stage)$|_fold_intent|_compact_intent(_emb)?".r
    Files.walk(Paths.get(localPath(root))).iterator().asScala
      .map(_.getFileName.toString).filter(n => staged.matches(n)).toSeq
  }

  /** Run `body` with protocol rename `nth` refused (0: none); returns the
    * protocol renames it made and its outcome. */
  private def counted(nth: Int)(body: => Unit): (Int, Option[Throwable]) = {
    RefusingRenameFileSystem.renames.set(0)
    RefusingRenameFileSystem.refuseNth = nth
    try {
      val failure = try { body; None } catch { case e: Exception => Some(e) }
      (RefusingRenameFileSystem.renames.get, failure)
    } finally RefusingRenameFileSystem.refuseNth = 0
  }

  private def check(op: Op): Unit = {
    val clean = freshRoot()
    op.setup(clean)
    val (n, ok) = counted(0)(op.run(clean))
    assert(ok.isEmpty, s"${op.name}: the clean run failed: $ok")
    assert(n == op.renames, s"${op.name}: a clean run makes $n protocol renames")
    val expected = op.state(clean)
    assert(expected.nonEmpty)
    (1 to op.renames).foreach { nth =>
      val root = freshRoot()
      op.setup(root)
      val (_, failure) = counted(nth)(op.run(root))
      assert(failure.isDefined, s"${op.name}: refusing rename $nth did not fail the operation")
      op.recover(root)
      op.run(root)
      assert(op.state(root) == expected, s"${op.name}: rename $nth refused, then recovered")
      assert(leftovers(root).isEmpty, s"${op.name}: rename $nth refused left ${leftovers(root)}")
    }
  }

  // ---------------------------------------------------------- the matrix

  private def table(root: String) = s"$root/t"

  private val upsertBatch = Op("upsertBatch", 2,
    setup = r => Sinks.upsertBatch(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"), Seq("k"), table(r), 0L),
    run = r => Sinks.upsertBatch(Seq(("b", 20.0), ("c", 3.0)).toDF("k", "v"), Seq("k"), table(r), 1L),
    recover = r => Sinks.recoverTable(spark, table(r)),
    state = r => rows(spark.read.parquet(table(r))))

  private val compactPartials = Op("compactPartials", 2,
    setup = { r =>
      Sinks.appendVersioned(Seq(("a", 100L, 1L)).toDF("k", "cents", "n"), table(r), 0L)
      Sinks.appendVersioned(Seq(("a", 50L, 1L), ("b", 7L, 1L)).toDF("k", "cents", "n"), table(r), 1L)
    },
    run = r => Sinks.compactPartials(spark, table(r), Seq("k"), Seq("cents", "n")),
    recover = r => Sinks.recoverTable(spark, table(r)),
    state = r => rows(spark.read.parquet(table(r))) ++ dirNames(table(r)))

  // the batch touches both existing partitions: two swaps of two renames
  private val upsertBatchPartitioned = Op("upsertBatchPartitioned", 4,
    setup = r => Sinks.upsertBatchPartitioned(
      Seq((1L, "d1", "x"), (2L, "d2", "y")).toDF("id", "d", "tag"), Seq("id"), "d", table(r), 0L),
    run = r => Sinks.upsertBatchPartitioned(
      Seq((1L, "d1", "x2"), (3L, "d2", "z")).toDF("id", "d", "tag"), Seq("id"), "d", table(r), 1L),
    recover = r => Sinks.recoverPartitions(spark, table(r)),
    state = r => rows(spark.read.parquet(table(r))) ++ dirNames(table(r)))

  private val compactLakePartition = Op("compactLakePartition", 2,
    setup = { r =>
      Sinks.writePartitionedLake(Seq((1L, "d1"), (2L, "d1")).toDF("id", "d"), "d", table(r))
      Sinks.writePartitionedLake(Seq((3L, "d1"), (4L, "d2")).toDF("id", "d"), "d", table(r))
    },
    run = r => Sinks.compactLakePartition(spark, table(r), "d", "d1", targetRecordsPerFile = 10L),
    recover = r => Sinks.recoverPartitions(spark, table(r)),
    state = r => rows(spark.read.parquet(table(r))) :+
      s"d1 files: ${dirNames(s"${table(r)}/d=d1").count(_.endsWith(".parquet"))}")

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  // the fold publishes its intent marker, then replaces generation 1
  // (park + install); every generational fold below does the same
  private val fpFold = Op("fp-index fold (compactGenerational)", 3,
    setup = { r =>
      Dedup.writeFingerprintIndex(docs(1L -> "alpha beta gamma"), table(r))
      Dedup.appendFingerprintIndex(docs(2L -> "delta epsilon zeta"), table(r), generation = 1L)
    },
    run = r => Dedup.compactFingerprintIndex(spark, table(r), 1L),
    recover = r => PersistedIndex.Fingerprint.recover(spark, table(r)),
    state = r => rows(spark.read.parquet(table(r))) ++ dirNames(table(r)))

  // the install publishes generation 0 into the staging path, then swaps
  private val evalInstall = Op("eval install (replaceTable)", 3,
    setup = r => Dedup.writeEvalIndex(docs(1L -> "one two three four five six"), table(r)),
    run = r => Dedup.writeEvalIndex(docs(7L -> "seven eight nine ten eleven"), table(r)),
    recover = r => PersistedIndex.Eval.recover(spark, table(r)),
    state = r => rows(spark.read.parquet(table(r))) ++ dirNames(table(r)))

  private def generationalState(roots: String*): Seq[String] =
    roots.flatMap(t => rows(spark.read.parquet(t)) ++ dirNames(t))

  // two folds of three renames: sigs, then bands
  private val bandFold = Op("band-index fold (sigs, then bands)", 6,
    setup = { r =>
      Dedup.writeBandIndex(docs(1L -> "alpha beta gamma delta epsilon"), table(r))
      Dedup.appendBandIndex(docs(2L -> "zeta eta theta iota kappa"), table(r), generation = 1L)
    },
    run = r => Dedup.compactBandIndex(spark, table(r), 1L),
    recover = r => PersistedIndex.Band.recover(spark, table(r)),
    state = r => generationalState(s"${table(r)}/sigs", s"${table(r)}/bands"))

  private val spanFold = Op("span-count fold", 3,
    setup = { r =>
      Dedup.writeSpanCountIndex(docs(1L -> "one two three four five six"), table(r))
      Dedup.appendSpanCounts(docs(2L -> "one two three four nine ten"), table(r), generation = 1L)
    },
    run = r => Dedup.compactSpanCountIndex(spark, table(r), 1L),
    recover = r => PersistedIndex.SpanCounts.recover(spark, table(r)),
    state = r => generationalState(s"${table(r)}/counts"))

  private val evalFold = Op("eval-index fold", 3,
    setup = { r =>
      Dedup.writeEvalIndex(docs(1L -> "one two three four five six"), table(r))
      Dedup.appendEvalIndex(docs(7L -> "seven eight nine ten eleven"), table(r), generation = 1L)
    },
    run = r => Dedup.compactEvalIndex(spark, table(r), 1L),
    recover = r => PersistedIndex.Eval.recover(spark, table(r)),
    state = r => generationalState(table(r)))

  // the count families have no maintenance handle: their refreshes
  // recover through readFacts, which runs the fold recovery on the root
  private val bm25Fold = Op("BM25 fact fold (compactFacts)", 3,
    setup = { r =>
      Bm25.installIndex(docs(1L -> "alpha beta gamma"), "text", "doc_id", table(r))
      Bm25.appendDocs(docs(2L -> "beta gamma delta"), table(r), generation = 1L)
    },
    run = r => Bm25.compactFacts(spark, table(r), 1L),
    recover = r => IndexProtocol.recoverFold(spark, s"${table(r)}/facts"),
    state = r => generationalState(s"${table(r)}/facts"))

  private val lmFold = Op("LM count fold (compactCountIndex)", 3,
    setup = { r =>
      LangModel.installCountIndex(docs(1L -> "a b c a b"), "text", table(r))
      LangModel.appendCounts(docs(2L -> "b c d b c"), table(r), generation = 1L)
    },
    run = r => LangModel.compactCountIndex(spark, table(r), 1L),
    recover = r => IndexProtocol.recoverFold(spark, s"${table(r)}/counts"),
    state = r => generationalState(s"${table(r)}/counts"))

  private val ingestBatches = Seq(
    docs(1L -> "alpha beta gamma delta epsilon zeta", 2L -> "the quick brown fox jumps over"),
    docs(11L -> "the rain in spain stays mainly on the plain", 12L -> "the quick brown fox jumps over"),
    docs(21L -> "never gonna give you up never gonna let you down"))

  private def ingested(r: String, n: Int): Unit =
    ingestBatches.take(n).zipWithIndex.foreach { case (b, i) =>
      IngestPipeline.ingestBatch(spark, IngestPaths(r), b, i.toLong)
    }

  private def ingestState(r: String): Seq[String] = {
    val p = IngestPaths(r)
    rows(IngestPipeline.readCommitted(spark, p).select("doc_id", "text")) ++
      dirNames(p.docLake) :+ s"applied=${IngestPipeline.lastApplied(spark, p)}"
  }

  // intent marker publish, then park + install of __ver=1
  private val lakeFold = Op("ingest lake fold (compactCommitted)", 3,
    setup = r => ingested(r, 3),
    run = r => IngestPipeline.compactCommitted(spark, IngestPaths(r), 1L),
    recover = r => IngestPipeline.recoverCompaction(spark, IngestPaths(r)),
    state = ingestState)

  private def vectors(ids: Long*): DataFrame =
    ids.map(i => (i, Seq(1f / i, 1f - 1f / i))).toDF("vec_id", "embedding")

  private def ingestedWithVectors(r: String): Unit =
    ingestBatches.zipWithIndex.foreach { case (b, i) =>
      val ids = b.select("doc_id").as[Long].collect().toSeq
      IngestPipeline.ingestBatch(spark, IngestPaths(r), b, i.toLong, embedBatch = Some(vectors(ids: _*)))
    }

  // two folds of three renames: the doc lake, then the embedding lake
  private val lakeFoldWithVectors = Op("ingest lake fold over doc and embedding lakes", 6,
    setup = ingestedWithVectors,
    run = r => IngestPipeline.compactCommitted(spark, IngestPaths(r), 1L),
    recover = r => IngestPipeline.recoverCompaction(spark, IngestPaths(r)),
    state = r => ingestState(r) ++ generationalState(IngestPaths(r).embLake))

  // the fp generation publish, then park + install of the manifest
  private val manifestPublish = Op("manifest publish (ingestBatch)", 3,
    setup = r => ingested(r, 1),
    run = r => IngestPipeline.ingestBatch(spark, IngestPaths(r), ingestBatches(1), 1L),
    recover = r => IngestPipeline.recoverCompaction(spark, IngestPaths(r)),
    state = r => ingestState(r) ++ rows(spark.read.parquet(IngestPaths(r).fpIndex).select("fp")))

  Seq(upsertBatch, compactPartials, upsertBatchPartitioned, compactLakePartition,
    fpFold, evalInstall, lakeFold, manifestPublish, bandFold, spanFold, evalFold, bm25Fold,
    lmFold, lakeFoldWithVectors).foreach { op =>
    test(s"${op.name}: each refused rename fails, then recovery and a re-run match a clean run") {
      check(op)
    }
  }
}
