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
  *     `batch=<gen>` directory naming. The fold ([[compactGenerational]])
  *     keeps the directory count O(1) under the membership-semantics crash
  *     argument spelled out at [[Dedup.compactFingerprintIndex]].
  *   - '''Count facts carry their origin.''' The count families (span,
  *     BM25, LM) store per-generation facts with an origin column `src`,
  *     so every duplicate a crash window can produce is row-identical;
  *     their refreshes read through [[readFacts]], whose `distinct` is the
  *     crash shield.
  *   - '''Staged replace for whole-index rewrites.''' Installs-over-live,
  *     migrations and derived-list refreshes build into a staging sibling
  *     and swap with [[graft.sinks.Sinks.swapIn]]'s two-rename protocol;
  *     a crash parks the previous generation at `<path>__old`, restored by
  *     [[recoverReplace]] (run on loop startup and before every staged
  *     build).
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
    * the caller (a write-once fixture stamp, or a [[stagedReplace]]).
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
    * deduplicated. Before the scan, any generation a crashed fold left
    * parked at `<root>__old` is restored
    * ([[graft.sinks.Sinks.recoverPartitions]]), so a refresh after the
    * crash still counts it. The `distinct` is the other crash shield: a
    * fold's post-swap crash can leave a generation's facts twice, and
    * because every fact carries its origin generation (`src`) it drops
    * only such copies, never two real facts.
    */
  def readFacts(spark: SparkSession, root: String, columns: String*): DataFrame = {
    graft.sinks.Sinks.recoverPartitions(spark, root)
    graft.sources.Tables.parquetScan(spark, root)
      .select(columns.head, columns.tail: _*).distinct()
  }

  // --------------------------------------------------- generational fold

  /** The shared fold for ANY membership-state table published as immutable
    * generations: consolidate generations ≤ upToGen into one. See
    * [[Dedup.compactFingerprintIndex]]'s scaladoc for the crash-window
    * argument; it holds for every caller because it relies only on
    * membership semantics (duplicate rows invisible to semi-join probes,
    * distinct restoring canonical content).
    */
  def compactGenerational(
      spark: SparkSession,
      path: String,
      upToGen: Long,
      partitionBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val fs = fileSystem(spark, path)
    val rootP = new Path(path)
    if (!fs.exists(rootP)) return
    graft.sinks.Sinks.recoverPartitions(spark, path)
    fs.delete(new Path(path + "__tmp"), true)
    val gens = generations(fs, rootP)
      .map(_.getPath.getName.drop(GenerationCol.length + 1).toLong)
      .filter(_ <= upToGen).sorted
    if (gens.size < 2) return
    val dirName = generationDir(upToGen)
    // distinct restores canonical one-row-per-doc content even when a
    // previous fold's post-swap crash left duplicate generations behind
    val consolidated = spark.read.parquet(path)
      .filter(col(GenerationCol).cast("long") <= upToGen)
      .drop(GenerationCol).distinct()
    val tmp = new Path(path + "__tmp", dirName)
    // a partitioned subtable (the band index's bp layout) must fold into
    // the same layout — an unpartitioned folded generation next to
    // partitioned live ones would break partition discovery
    val cw = consolidated.write
    (if (partitionBy.nonEmpty) cw.partitionBy(partitionBy: _*) else cw)
      .parquet(tmp.toString)
    graft.sinks.Sinks.swapIn(fs, tmp, new Path(rootP, dirName),
      trash = Some(new Path(path + graft.sinks.Sinks.OldSuffix, dirName)))
    gens.filter(_ != upToGen).foreach { g =>
      fs.delete(new Path(rootP, generationDir(g)), true)
    }
    fs.delete(new Path(path + "__tmp"), true)
    fs.delete(new Path(path + graft.sinks.Sinks.OldSuffix), true)
  }

  // ------------------------------------------------------ staged replace

  /** Restore a table a crashed [[stagedReplace]] swap left parked at
    * `<path>__old`. No-op when the live path exists. */
  def recoverReplace(spark: SparkSession, path: String): Unit = {
    val fs = fileSystem(spark, path)
    graft.sinks.Sinks.recoverSwap(fs,
      new Path(path), new Path(path + graft.sinks.Sinks.OldSuffix))
  }

  /** Whole-table replace with the staged two-rename protocol: recover any
    * parked previous generation (the build may READ the live table — a
    * migration seeds from the old model), clear and hand the caller a
    * staging path (`<path><stagingSuffix>`), then swap the staged build
    * in. Crash windows: before the swap the live table is untouched (an
    * orphaned staging dir is overwritten by the next attempt); between the
    * swap's renames the table is parked at `<path>__old` — restored by
    * [[recoverReplace]]. Single-writer contract as everywhere: no
    * concurrent appends.
    */
  def stagedReplace(
      spark: SparkSession,
      path: String,
      stagingSuffix: String = "__next")(build: String => Unit): Unit = {
    val fs = fileSystem(spark, path)
    recoverReplace(spark, path)
    val next = path + stagingSuffix
    fs.delete(new Path(next), true)
    build(next)
    graft.sinks.Sinks.swapIn(fs, new Path(next), new Path(path))
    fs.delete(new Path(next), true)
  }
}

/** Uniform maintenance handle on one persisted index family — the surface
  * [[graft.pipeline.IngestPipeline]]'s maintenance cadence iterates
  * (readable-detection for bootstrap-vs-probe, the bounded-file fold,
  * post-crash recovery). Appends and probes stay family-typed on the
  * content modules: their signatures genuinely differ (text batches vs
  * embedding batches vs span facts), and forcing them through one
  * interface would erase exactly the types that make them safe.
  */
sealed trait PersistedIndex {
  def name: String

  /** Crash-aware bootstrap-vs-probe decision — see the readable-detection
    * contract at [[IndexProtocol]]. */
  def readable(spark: SparkSession, path: String): Boolean

  /** Bounded-file maintenance fold of committed state. `upToGen` bounds
    * the fold for generational families; the in-place families (IVF's
    * per-cell file fold) compact whatever is committed and ignore it.
    */
  def compact(spark: SparkSession, path: String, upToGen: Long): Unit

  /** Post-crash repair (parked swaps, staged debris); no-op when clean. */
  def recover(spark: SparkSession, path: String): Unit
}

object PersistedIndex {

  /** Exact-dedup fingerprint index (q69). */
  case object Fingerprint extends PersistedIndex {
    val name = "fp"
    def readable(s: SparkSession, p: String) = Dedup.fingerprintIndexReadable(s, p)
    def compact(s: SparkSession, p: String, g: Long) = Dedup.compactFingerprintIndex(s, p, g)
    def recover(s: SparkSession, p: String) = graft.sinks.Sinks.recoverPartitions(s, p)
  }

  /** MinHash band/sig near-dup index (q78). */
  case object Band extends PersistedIndex {
    val name = "band"
    def readable(s: SparkSession, p: String) = Dedup.bandIndexReadable(s, p)
    def compact(s: SparkSession, p: String, g: Long) = Dedup.compactBandIndex(s, p, g)
    def recover(s: SparkSession, p: String) = {
      graft.sinks.Sinks.recoverPartitions(s, s"$p/sigs")
      graft.sinks.Sinks.recoverPartitions(s, s"$p/bands")
    }
  }

  /** Eval-suite decontamination index (q82). */
  case object Eval extends PersistedIndex {
    val name = "eval"
    def readable(s: SparkSession, p: String) = Dedup.evalIndexReadable(s, p)
    def compact(s: SparkSession, p: String, g: Long) = Dedup.compactEvalIndex(s, p, g)
    def recover(s: SparkSession, p: String) = Dedup.recoverEvalIndex(s, p)
  }

  /** Hot-span count index (q86). */
  case object SpanCounts extends PersistedIndex {
    val name = "span"
    def readable(s: SparkSession, p: String) = Dedup.spanCountIndexReadable(s, p)
    def compact(s: SparkSession, p: String, g: Long) = Dedup.compactSpanCountIndex(s, p, g)
    def recover(s: SparkSession, p: String) = Dedup.recoverSpanIndex(s, p)
  }

  /** Trained-centroid IVF index, int8 lists (q67); the IVF-PQ index (q92)
    * shares the `cell_id=` list layout, so the same handle maintains both
    * paths. */
  case object Ivf extends PersistedIndex {
    val name = "ivf"
    def readable(s: SparkSession, p: String) = Similarity.ivfIndexReadable(s, p)
    def compact(s: SparkSession, p: String, g: Long) = Similarity.compactIvfIndex(s, p)
    def recover(s: SparkSession, p: String) = {
      Similarity.recoverIvfIndex(s, p) // a crashed migration swap
      graft.sinks.Sinks.recoverPartitions(s, s"$p/lists") // a crashed cell fold
    }
  }

  /** Every family, for uniform startup recovery / maintenance sweeps. */
  val all: Seq[PersistedIndex] = Seq(Fingerprint, Band, Eval, SpanCounts, Ivf)
}
