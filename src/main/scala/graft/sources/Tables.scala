package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (`/root/repo/TESTDATA.md`).
  *
  * Design notes for scale (100 TB): every loader returns a plain parquet scan
  * DataFrame — no caching, no collect — so Catalyst keeps predicate pushdown,
  * column pruning and (for partitioned lakes) partition pruning available to
  * every downstream query. The reference instead globs partition paths by hand
  * (reference: bigdata-project/src/spark_batch_v2.py:33); with a real
  * partition column that pruning falls out of the optimizer.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      // embeddings consumers are uniformly per-row-heavy (cosine ladders,
      // quantization, k-means stats), so the table fans out at the loader;
      // documents consumers are NOT uniform — the fan-out is opt-in there
      // ([[documentsHeavy]]), because the r17 A/B showed the exchange tax
      // exceeds the map win on the cheap consumers (exact-dedup
      // fingerprints, pure-sampling hashes)
      case n @ "embeddings" =>
        fanOutIfTiny(spark, parquetScan(spark, s"$dir/$n.parquet"), s"$dir/$n.parquet")
      case n        => parquetScan(spark, s"$dir/$n.parquet")
    }

  /** JVM-local memo of each parquet source's INFERRED SCHEMA, keyed by path
    * and guarded by the source's [[sourceSignature]] (r18, the q19 fixed-cost
    * decomposition — verdict #6). `spark.read.parquet(path)` runs a footer
    * schema-inference Spark job on EVERY call: ~86 ms of the ~130 ms it
    * costs to merely CONSTRUCT a cheap registry query at sf0.1, paid by
    * every query body in every bench pass — the dominant shared term of the
    * ~45 s sub-second tail. Supplying the schema skips the job
    * (same-session measurement: read 86 → 11 ms) and is exactly what a
    * production catalog/metastore table does; the memo is metadata
    * plumbing — SCHEMAS, never rows or results — invalidated mechanically
    * when any file's size or mtime changes, and a cold JVM still infers
    * once per source (the bench/verify/driver contract recomputes
    * everything from parquet). Each entry also records whether the source
    * declares TIMESTAMP(NANOS) columns, which its schema alone cannot say
    * (see [[events]]), and the [[InferenceConfs]] values the inference ran
    * under: a session holding other values infers again.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[String, Inferred]()

  private final case class Inferred(
      sig: String, confs: Seq[Option[String]],
      schema: org.apache.spark.sql.types.StructType, nanos: Boolean)

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Session confs that change what parquet inference returns for the same
    * bytes (`nanosAsLong` rides on the entry's `nanos` field instead). */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** Source-state signature behind every JVM-local source memo (the schema
    * memo here and [[graft.Fixture]]'s source fingerprints):
    * SHA-256 over the sorted `path:size:mtime;` listing of every file under
    * `path`. None when `java.nio` cannot see the path — absent, not on the
    * local filesystem, or failing mid-walk — and a caller then computes
    * without memoizing: an unknowable state must never serve a memo. A
    * `file:` URI is read as the local path it names.
    *
    * The mtime-granularity assumption stands and is documented: an
    * in-place regeneration that preserves every file's byte length AND
    * millisecond mtime (e.g. a timestamp-preserving restore of different
    * bytes) is indistinguishable by design — the memos trade that window
    * for not re-reading gigabytes per check; a caller that needs
    * content-level certainty clears the JVM (the memos are per-process) or
    * touches the files.
    */
  private[graft] def sourceSignature(path: String): Option[String] =
    try {
      localPath(path)
        .filter(java.nio.file.Files.exists(_))
        .map { root =>
          val sb = new StringBuilder
          val stream = java.nio.file.Files.walk(root)
          try {
            stream.sorted(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
              .forEach { p =>
                val f = p.toFile
                if (f.isFile)
                  sb.append(p.toString).append(':')
                    .append(f.length).append(':').append(f.lastModified).append(';')
              }
          } finally stream.close()
          java.security.MessageDigest.getInstance("SHA-256")
            .digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map(b => f"$b%02x").mkString
        }
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException |
          _: IllegalArgumentException => None
    }

  /** The local path a bare or `file:` path names; None for any other
    * scheme (an object store), which the local filesystem cannot see.
    */
  private def localPath(path: String): Option[java.nio.file.Path] =
    Some(new org.apache.hadoop.fs.Path(path).toUri)
      .filter(u => u.getScheme == null || u.getScheme == "file")
      .map(u => java.nio.file.Paths.get(u.getPath))

  /** A parquet scan that infers its schema at most once per (JVM, source
    * state): first read infers and memoizes, later reads supply the cached
    * schema. Values are identical by construction — the supplied schema IS
    * the one inference produced for the same bytes. A memo hit on a source
    * that declares TIMESTAMP(NANOS) sets `nanosAsLong` for this session,
    * as the inference did for the session that ran it: the memoized schema
    * reads those columns as longs, and the scan's execution-time footer
    * conversion needs the flag too.
    */
  private[graft] def parquetScan(spark: SparkSession, path: String): DataFrame =
    scan(spark, path)._1

  /** [[parquetScan]] plus whether the source declares TIMESTAMP(NANOS). */
  private def scan(spark: SparkSession, path: String): (DataFrame, Boolean) = {
    val sig = sourceSignature(path)
    val confs = InferenceConfs.map(spark.conf.getOption)
    Option(schemaMemo.get(path)).filter(h => sig.contains(h.sig) && h.confs == confs) match {
      case Some(hit) =>
        if (hit.nanos) spark.conf.set(NanosAsLong, "true")
        (spark.read.schema(hit.schema).parquet(path), hit.nanos)
      case None =>
        val df = spark.read.parquet(path)
        // without the flag a NANOS column fails the inference above; with
        // it, it infers as a LongType no different from a plain INT64, and
        // only the footer tells the two apart
        val nanos = spark.conf.get(NanosAsLong, "false").toBoolean && declaresNanos(spark, path)
        sig.foreach(s => schemaMemo.put(path, Inferred(s, confs, df.schema, nanos)))
        (df, nanos)
    }
  }

  /** True when the parquet file at `path` (or the first data file directly
    * under a directory `path`) declares a TIMESTAMP(NANOS) column — read
    * from its footer, whatever the session's `nanosAsLong` setting.
    */
  private def declaresNanos(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isFile) Some(p)
      else fs.listStatus(p).map(_.getPath).find(_.getName.endsWith(".parquet"))
    file.exists { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try reader.getFileMetaData.getSchema.getColumns.asScala.exists {
        _.getPrimitiveType.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        }
      } finally reader.close()
    }
  }

  /** [[documents]] behind the scale-adaptive fan-out — for consumers whose
    * per-row work dominates (media codecs, model encode/scoring, multi-
    * regex scrub, signature banks). Measured per query before adoption
    * (OPTIMIZATION_r17.md): the winners keep it, the cheap consumers keep
    * the plain pipelined scan.
    */
  def documentsHeavy(spark: SparkSession, dir: String): DataFrame =
    fanOutIfTiny(spark, documents(spark, dir), s"$dir/documents.parquet")

  /** Scale-adaptive fan-out for per-row-heavy sources (guide §2.5: an
    * unsplittable input that resolves to fewer tasks than the machine has
    * cores should be repartitioned right after the read). A parquet file
    * under `spark.sql.files.maxPartitionBytes` with a single row group is
    * exactly that: ONE scan task, so every expression pipelined into the
    * scan stage — tokenization, model encode, minhash signatures, media
    * codecs — runs on one core regardless of `local[n]`. When the source
    * bytes resolve to fewer than half the default parallelism in splits,
    * insert a round-robin repartition (the shuffled payload is by
    * construction at most a couple of split sizes — tiny); otherwise
    * return the scan untouched, so AT ANY REAL CORPUS SIZE this is a
    * no-op and no exchange is added to the plan. Sizing is read from the
    * local filesystem ([[sourceBytes]]) and fails toward "no fan-out"
    * (object-store paths simply never fan out — their scans split
    * upstream).
    */
  private[graft] def fanOutIfTiny(
      spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    fanOutWidth(target, sourceBytes(path), spark.sessionState.conf.filesMaxPartitionBytes)
      .fold(df)(df.repartition(_))
  }

  /** Bytes of the source at a bare or `file:` path: the file's length, or
    * the summed lengths of a directory's top-level files. Long.MaxValue
    * (no fan-out) for any other scheme or an unreadable path.
    */
  private[graft] def sourceBytes(path: String): Long =
    try {
      localPath(path).map(_.toFile).fold(Long.MaxValue) { p =>
        if (p.isFile) p.length
        else Option(p.listFiles).map(_.filter(_.isFile).map(_.length).sum)
          .getOrElse(Long.MaxValue)
      }
    } catch { case _: Exception => Long.MaxValue }

  /** Fan-out width is CAPPED at 16 partitions per natural split (r18, verdict #3)
    * instead of fanning straight to `target`: an uncapped fan turned a
    * sub-MB table into `defaultParallelism` micro-tasks, and the r17
    * 8-core full suite beating the 32-core one was the visible bill — on
    * a 32-core local session a one-split source became 32 tasks whose
    * scheduling cost rivaled their work. 16× a split keeps every fanned
    * task above ~1/16th of `maxPartitionBytes` of input (≥8 MB at the
    * 128 MB default — per-task overhead well under the per-row work this
    * guard exists for) while still engaging every core the work can
    * actually fill; sf0.1 A/B over the 11 fan-out-sensitive queries at
    * both widths and matched canaries: 16× beats both uncapped (q90
    * 2.44→2.04, q62 1.62→1.27, q64 1.71→1.48) and 8× (q37/q53 regressed
    * there — single-pass map consumers still want the wider fan).
    * At 8 cores the cap is inactive (min(8, 16) = 8), so low-core runs
    * are bit-identical to the uncapped policy.
    */
  private val WidthPerSplit = 16L

  /** The fan-out sizing decision, pure so the policy is spec-pinned:
    * None = leave the scan untouched, Some(w) = round-robin to w, at most
    * [[WidthPerSplit]] partitions per natural split.
    */
  private[graft] def fanOutWidth(target: Int, bytes: Long, maxSplit: Long): Option[Int] = {
    if (target <= 2) return None
    // divide-then-round (never bytes + maxSplit): the unreadable-path
    // sentinel is Long.MaxValue, and adding to it overflowed negative —
    // splits collapsed to 1 and the "fails toward no fan-out" contract
    // silently inverted (caught by this policy's r18 spec)
    val splits = math.max(1L, bytes / maxSplit + (if (bytes % maxSplit == 0) 0L else 1L))
    if (splits * 2 >= target) None
    else Some(math.min(target.toLong, splits * WidthPerSplit).toInt)
  }

  def region(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** `events.ts` has shipped in three parquet physical types across testdata
    * generations, so the loader adapts to whatever schema is on disk instead
    * of assuming one:
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]); read as a raw nanosecond long via
    *    `spark.sql.legacy.parquet.nanosAsLong` and convert with integer
    *    division (`div`, not `/` — double division loses precision above
    *    2^53, and epoch nanos ~1.7e18 is far above it).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=0): Spark reads TIMESTAMP_NTZ;
    *    cast to session-timezone TIMESTAMP (the session runs UTC, so the
    *    wall-clock values are reinterpreted as the same UTC instants the
    *    oracles assume).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=1): already TimestampType; as-is.
    *
    * A plain INT64 `ts` (no TIMESTAMP unit) is refused as contract drift:
    * nothing says what unit it counts.
    *
    * The branch costs one footer read on the driver; the returned plan is
    * still a plain pushdown-friendly scan either way.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // The nanosAsLong flag is set ONLY when this file actually declares
    // TIMESTAMP(NANOS) (the read throws PARQUET_TYPE_ILLEGAL without it) —
    // unconditionally flipping it mutated session-wide parquet semantics
    // as a read side effect: every LATER read of an unrelated NANOS
    // parquet in the session would silently load longs instead of failing
    // loudly (review finding). A plain INT64 `ts` also loads as LongType
    // and needs no flag; the schema memo records which of the two the
    // file is, so a memo hit in another session sets the flag exactly
    // when this inference did. When set, it must STAY set for the session:
    // the scan re-derives its conf at action time, so restoring the flag
    // after read() would break the returned frame's own execution.
    val (raw, nanos) =
      try scan(spark, s"$dir/events.parquet")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
              e.getMessage.contains("Illegal Parquet type") =>
          spark.conf.set(NanosAsLong, "true")
          scan(spark, s"$dir/events.parquet")
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType if nanos =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.LongType =>
        throw new IllegalStateException(
          "testdata contract drift: events.ts is a plain INT64 that declares no " +
            s"TIMESTAMP unit; inspect $dir/events.parquet — the loader reads an INT64 " +
            "ts only when the file declares TIMESTAMP(NANOS)")
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType =>
        raw
      case other =>
        throw new IllegalStateException(
          s"testdata contract drift: events.ts loaded as $other " +
            "(expected LongType [nanosAsLong], TimestampNTZType, or TimestampType); " +
            s"inspect $dir/events.parquet — the driver likely regenerated testdata " +
            "with a new physical type and Tables.events needs a new branch")
    }
  }
}
