package graft.functions

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** THE shared crash protocol of every persisted index family (round-11
  * verdict #4). Six families keep derived state beside the corpus as
  * immutable `batch=<gen>` generations: fp (q69), band (q78), eval/decontam
  * (q82), span counts (q86), BM25 posting facts ([[Bm25.installIndex]]) and
  * LM transition counts (q108). The IVF (q67) and IVF-PQ (q92) indexes and
  * the single-artifact models (the BM25 served index, the LM model, the
  * unigram model, the ingest feed sketch) share the layout codec,
  * readable-detection and the staged replace. One copy of each protocol
  * step lives here; the family modules ([[Dedup]], [[Bm25]], [[LangModel]],
  * [[Similarity]], [[Pq]]) keep only their CONTENT (which rows a family
  * stores, what it derives from them, how probes prune) and bind it to this
  * protocol. [[PersistedIndex]] is the uniform per-family handle the
  * maintenance loop iterates.
  *
  * The protocol contracts, documented once:
  *
  *   - '''Layout travels with the index, not the code.''' Geometry that
  *     every append and probe must agree on (the fp/band directory
  *     modulus, winnowing k/w, span k/minCount, BM25 corpus totals, LM
  *     order and vocabulary) and the scheme version are recorded in a
  *     `_GRAFT_LAYOUT` file at install time and read back by every later
  *     operation — drifted geometry would silently de-correlate appends
  *     from probes. One codec: ordered `key=value` fields joined with `,`
  *     ([[writeLayout]] / [[readLayout]]). A missing field is an
  *     `IllegalStateException`, a scheme mismatch an
  *     `IllegalArgumentException`; both name the rebuild remedy.
  *   - '''Readable-detection, never bare `fs.exists`.''' Every build
  *     sequence has a crash window that leaves a root directory without a
  *     complete data generation (layout-only debris, `_temporary` attempt
  *     dirs, data-less partitioned writes of empty frames). Treating that
  *     debris as an index sends replays down the probe path, which throws
  *     on the data-less read and crash-loops; the detection helpers here
  *     demand an actual parquet data file.
  *   - '''Install, then generational appends, atomic publish.''' [[install]]
  *     wipes the root, writes the layout and publishes the first
  *     generation; every later batch lands as its own immutable generation
  *     via [[publishGeneration]] ([[graft.sinks.Sinks.publishDir]]: stage +
  *     one checked rename): a replay sees either nothing (re-publishes
  *     identically) or everything (no-ops). Only this object knows the
  *     `batch=<gen>` directory naming.
  *   - '''Intent-logged fold.''' The fold ([[compactGenerational]]) keeps
  *     the directory count O(1) through the ingest lake's own fold,
  *     [[graft.sinks.Sinks.foldPartitions]]: once the consolidated
  *     generation is staged, an intent marker inside the data root records
  *     it, and [[recoverFold]] finishes the fold from any crash point — the
  *     family handles and [[readFacts]] run it on each data root.
  *   - '''Count facts carry their origin.''' The count families (span,
  *     BM25, LM) store per-generation facts with an origin column `src`,
  *     so every duplicate a crash window can produce is row-identical. The
  *     `distinct` in the fold and in [[readFacts]] stays as the shield
  *     against duplicate generations an older build's crashed fold left.
  *   - '''Staged replace for whole-index rewrites.''' Installs-over-live,
  *     migrations and derived-list refreshes go through
  *     [[graft.sinks.Sinks.replaceTable]], which owns the staging and trash
  *     paths and the two-rename swap. A crash parks the previous
  *     generation, restored by [[graft.sinks.Sinks.recoverTable]] (run on
  *     loop startup and before every staged build).
  */
private[graft] object IndexProtocol {

  /** The FileSystem that owns `path` — the one lookup the engine uses.
    * Resolved by Hadoop's own path parser: `new java.net.URI(path)` rejects
    * legal local paths, e.g. one with a space.
    */
  def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------- layout

  def layoutPath(path: String): Path = new Path(path, "_GRAFT_LAYOUT")

  /** Raw payload IO under the codec, and the one home of the
    * missing-layout contract. Families go through [[writeLayout]] /
    * [[readLayout]]; specs plant foreign payloads with the raw writer.
    */
  def writeLayoutPayload(spark: SparkSession, path: String, payload: String): Unit = {
    val fs = fileSystem(spark, path)
    val out = fs.create(layoutPath(path), true)
    try out.write(payload.getBytes("UTF-8")) finally out.close()
  }

  def readLayoutPayload(spark: SparkSession, path: String): String = {
    val fs = fileSystem(spark, path)
    val p = layoutPath(path)
    require(fs.exists(p),
      s"index at $path has no _GRAFT_LAYOUT — built under a pre-v4 scheme or the build crashed; rebuild it")
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
  }

  /** Write `fields` as the layout of `path`: `k1=v1,k2=v2,…` in the given
    * order (the bytes are what fixture stamps and old readers see). */
  def writeLayout(spark: SparkSession, path: String, fields: (String, Any)*): Unit =
    writeLayoutPayload(spark, path, fields.map { case (k, v) => s"$k=$v" }.mkString(","))

  /** The layout of `path`, decoded into its fields. */
  def readLayout(spark: SparkSession, path: String): Layout = {
    val payload = readLayoutPayload(spark, path)
    Layout(path, payload, payload.split(",").map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap)
  }

  /** One decoded `_GRAFT_LAYOUT`: its fields, plus the path and raw payload
    * every error message names. */
  final case class Layout(path: String, payload: String, fields: Map[String, String]) {

    /** The numeric field `key`. A layout without it, or with a value that
      * is not a number, was written under another scheme or is foreign
      * debris, and cannot be served. */
    def int(key: String): Int = fields.get(key).flatMap(_.toIntOption).getOrElse(throw unusable(key))
    def long(key: String): Long = fields.get(key).flatMap(_.toLongOption).getOrElse(throw unusable(key))

    private def unusable(key: String) = new IllegalStateException(
      s"index at $path has layout '$payload' with no usable '$key' — built under another scheme; rebuild it")

    /** Refuse a layout whose scheme field `key` is absent or is not
      * `version`: another build wrote the artifact. */
    def requireScheme(key: String, version: Any, what: String, remedy: String = "rebuild it"): Unit =
      require(fields.get(key).contains(version.toString),
        s"$what at $path has layout '$payload' — not scheme $key=$version; $remedy")
  }

  // ----------------------------------------------------- data detection

  /** A parquet data file DIRECTLY under `p` — deliberately non-recursive:
    * a crashed un-staged write leaves a `_temporary` attempt subtree whose
    * part files must NOT count as data (the IVF `cells` contract — a
    * mid-write crash reads as bootstrap, and the rebuild's overwrite
    * sweeps the debris).
    */
  def hasTopLevelParquet(fs: FileSystem, p: Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")
    }

  /** A parquet data file ANYWHERE under `p` — for subtrees that are only
    * ever created by an atomic rename (generation publishes, possibly
    * partitioned inside), where `_temporary` debris cannot exist but the
    * data may sit below partition directories. Short-circuits at the first
    * data file, so a populated index pays one listing, not a tree scan.
    */
  def hasParquetDeep(fs: FileSystem, p: Path): Boolean = {
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext) {
      val f = it.next()
      found = f.isFile && f.getPath.getName.endsWith(".parquet")
    }
    found
  }

  // -------------------------------------------------------- generations

  /** Partition column of the generation directories (`batch=<gen>`), so
    * Spark's partition discovery reads a data root as one table. */
  private val GenerationCol = "batch"

  private def generationDir(generation: Long): String = s"$GenerationCol=$generation"

  /** The published generation directories directly under `root`. */
  def generations(fs: FileSystem, root: Path): Seq[FileStatus] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).filter(_.getPath.getName.startsWith(s"$GenerationCol=")).toSeq

  /** True when a READABLE generational index exists at `path`: the layout
    * file AND at least one published generation with real data under
    * every data root (`""` names `path` itself). Callers deciding
    * bootstrap-vs-probe must use this, never bare `fs.exists(path)` — see
    * the class note's readable-detection contract (round-9 advice; the
    * empty-DataFrame partitioned-write hole is a review finding).
    */
  def generationalReadable(
      spark: SparkSession, path: String, dataRoots: Seq[String]): Boolean = {
    val fs = fileSystem(spark, path)
    def hasGeneration(root: String): Boolean =
      generations(fs, new Path(if (root.isEmpty) path else s"$path/$root"))
        .exists(st => hasParquetDeep(fs, st.getPath))
    fs.exists(layoutPath(path)) && dataRoots.forall(hasGeneration)
  }

  /** One generation's rows under one data root (a table path). */
  final case class GenerationRows(root: String, rows: DataFrame, partitionBy: Seq[String] = Nil)

  /** Publish `generation` under each data root in the given order, each as
    * one atomic [[graft.sinks.Sinks.publishDir]]. Returns whether the LAST
    * root's generation was newly published (false: a replay no-op).
    * Multi-root families order the roots so that every crash prefix reads
    * as "not yet appended" (the band index publishes sigs before bands).
    */
  def publishGeneration(generation: Long, data: GenerationRows*): Boolean =
    data.map { d =>
      graft.sinks.Sinks.publishDir(d.rows, d.root, generationDir(generation), d.partitionBy)
    }.last

  /** Install a generational index at `path`: wipe the root, write its
    * layout, publish `generation` of every data root. The layout lands
    * before the first generation, so no readable index ever lacks one; a
    * crash before the publish leaves layout-only debris, which
    * [[generationalReadable]] reads as bootstrap. Idempotency belongs to
    * the caller (a write-once fixture stamp, or a
    * [[graft.sinks.Sinks.replaceTable]]).
    */
  def install(
      spark: SparkSession, path: String, layout: Seq[(String, Any)], generation: Long,
      data: GenerationRows*): Unit = {
    val fs = fileSystem(spark, path)
    fs.delete(new Path(path), true)
    fs.mkdirs(new Path(path))
    writeLayout(spark, path, layout: _*)
    publishGeneration(generation, data: _*)
  }

  /** A count family's facts under `root`, projected to `columns` and
    * deduplicated. Before the scan, any fold a crash interrupted is
    * finished ([[recoverFold]]), so a refresh after the crash counts every
    * generation exactly once. The `distinct` stays as the shield against
    * duplicate generations an older build's crashed fold left behind:
    * because every fact carries its origin generation (`src`) it drops
    * only such copies, never two real facts.
    */
  def readFacts(spark: SparkSession, root: String, columns: String*): DataFrame = {
    recoverFold(spark, root)
    graft.sources.Tables.parquetScan(spark, root)
      .select(columns.head, columns.tail: _*).distinct()
  }

  // --------------------------------------------------- generational fold

  /** The fold's staging suffix, an on-disk name older builds share. */
  private val FoldStaging = "__tmp"

  /** The fold's intent marker, inside the data root: no reader parses a
    * `_`-prefixed file, and an install that wipes or swaps the root takes
    * the marker of the generations it replaced with it. */
  private def foldIntent(root: String): String = s"$root/_fold_intent"

  /** The shared fold for ANY membership-state table published as immutable
    * generations: consolidate generations ≤ upToGen into one through
    * [[graft.sinks.Sinks.foldPartitions]] (intent-logged; staging under
    * `<path>__tmp`). Duplicate rows are invisible to semi-join probes, and
    * the `distinct` restores canonical content over duplicate generations
    * an older build's crashed fold may have left.
    */
  def compactGenerational(
      spark: SparkSession,
      path: String,
      upToGen: Long,
      partitionBy: Seq[String] = Nil): Unit =
    graft.sinks.Sinks.foldPartitions(spark, path, GenerationCol, upToGen, FoldStaging, foldIntent(path)) {
      (rows, dir) =>
        // a partitioned subtable (the band index's bp layout) must fold
        // into the same layout — an unpartitioned folded generation next to
        // partitioned live ones would break partition discovery
        val w = rows.distinct().write
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
    }

  /** Finish a generational fold a crash interrupted under `root`
    * ([[graft.sinks.Sinks.recoverFold]]); no-op on a clean root. */
  def recoverFold(spark: SparkSession, root: String): Unit =
    graft.sinks.Sinks.recoverFold(spark, root, GenerationCol, FoldStaging, foldIntent(root))
}

/** Uniform maintenance handle on one persisted index family — the surface
  * [[graft.pipeline.IngestPipeline]]'s maintenance cadence iterates (the
  * bounded-file fold, post-crash recovery). Appends and probes stay
  * family-typed on the content modules: their signatures genuinely differ
  * (text batches vs embedding batches vs span facts), and forcing them
  * through one interface would erase exactly the types that make them safe.
  */
sealed trait PersistedIndex {

  /** Bounded-file maintenance fold of committed state. `upToGen` bounds
    * the fold for generational families; the in-place families (IVF's
    * per-cell file fold) compact whatever is committed and ignore it.
    */
  def compact(spark: SparkSession, path: String, upToGen: Long): Unit

  /** Post-crash repair (parked swaps, staged debris); no-op when clean. */
  def recover(spark: SparkSession, path: String): Unit
}

object PersistedIndex {
  import graft.sinks.Sinks

  /** Exact-dedup fingerprint index (q69). */
  case object Fingerprint extends PersistedIndex {
    def compact(s: SparkSession, p: String, g: Long) = Dedup.compactFingerprintIndex(s, p, g)
    def recover(s: SparkSession, p: String) = IndexProtocol.recoverFold(s, p)
  }

  /** MinHash band/sig near-dup index (q78). */
  case object Band extends PersistedIndex {
    def compact(s: SparkSession, p: String, g: Long) = Dedup.compactBandIndex(s, p, g)
    def recover(s: SparkSession, p: String) = {
      IndexProtocol.recoverFold(s, s"$p/sigs")
      IndexProtocol.recoverFold(s, s"$p/bands")
    }
  }

  /** Eval-suite decontamination index (q82): a crashed install swap parks
    * the whole index, a crashed fold one generation — both at `<p>__old`,
    * so the whole-table restore runs first, and the fold's recovery
    * collects a finished install's trash instead of restoring the replaced
    * suites' generations ([[Sinks.recoverPartitions]]). The probes run a
    * narrower repair that leaves the fold's staging and marker alone
    * (`Dedup.restoreParkedEval`): an operator may fold the index while the
    * ingest loop probes it. */
  case object Eval extends PersistedIndex {
    def compact(s: SparkSession, p: String, g: Long) = Dedup.compactEvalIndex(s, p, g)
    def recover(s: SparkSession, p: String) = {
      Sinks.recoverTable(s, p)
      IndexProtocol.recoverFold(s, p)
    }
  }

  /** Hot-span count index (q86): the hot list is swapped whole, the count
    * facts fold by generation. */
  case object SpanCounts extends PersistedIndex {
    def compact(s: SparkSession, p: String, g: Long) = Dedup.compactSpanCountIndex(s, p, g)
    def recover(s: SparkSession, p: String) = {
      Sinks.recoverTable(s, Dedup.hotListPath(p))
      IndexProtocol.recoverFold(s, Dedup.spanCountsRoot(p))
    }
  }

  /** Trained-centroid IVF index, int8 lists (q67); the IVF-PQ index (q92)
    * shares the `cell_id=` list layout, so the same handle maintains both
    * paths. */
  case object Ivf extends PersistedIndex {
    def compact(s: SparkSession, p: String, g: Long) = Similarity.compactIvfIndex(s, p)
    def recover(s: SparkSession, p: String) = {
      Sinks.recoverTable(s, p) // a crashed migration swap
      Sinks.recoverPartitions(s, s"$p/lists") // a crashed cell fold
    }
  }
}
