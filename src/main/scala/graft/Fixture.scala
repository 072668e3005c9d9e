package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{ChecksumException, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

import graft.functions.IndexProtocol
import graft.sources.Tables

/** The write-once protocol of every stamped fixture a registry query
  * builds (index, model and lake fixtures alike).
  *
  * A fixture directory is reusable when its `_GRAFT_STAMP` file records
  * the exact string the caller derives from the CURRENT source and code:
  * the source fingerprint ([[sourceStamp]]) plus the code-resident build
  * parameters and scheme versions no data fingerprint can see. Any
  * mismatch (an SF switch, regenerated testdata, a version bump) deletes
  * the directory and rebuilds, so a build never inherits files a
  * different build left; a match skips the build, so bench passes time
  * the fixture's READ path, not its build. `_`-prefixed files are
  * invisible to Spark's file listing and to the oracle's `*.parquet` glob
  * alike. Every read, delete and write goes through
  * [[IndexProtocol.fileSystem]], so any Hadoop path works as a fixture,
  * a `file:` URI included.
  */
private[graft] object Fixture {

  val StampFile = "_GRAFT_STAMP"

  /** Root for query-written fixtures, read once. Env-overridable so the
    * entry point is not bound to one checkout; the default is
    * `target/fixtures` under the working directory. The DuckDB oracle SQL
    * interpolates the SAME paths, so a `file:` root is turned into the
    * local path it names: DuckDB finds no files at `file:/…` or
    * `file:///…`.
    */
  val root: String =
    sys.env.get("SPARK_GRAFT_FIXTURE_ROOT") match {
      case Some(r) if r.startsWith("file:") => new Path(r).toUri.getPath
      case Some(r) => r
      case None => java.nio.file.Paths.get("target", "fixtures").toAbsolutePath.toString
    }

  /** The one sanitizer for source-derived names: fixture directory tags
    * here and catalog table names in [[graft.sources.Bucketing]].
    */
  def tag(s: String): String = s.replaceAll("[^A-Za-z0-9]", "_")

  /** SF-scoped fixture path: `<root>/<name>_<tagged sfDir>`.
    *
    * Every fixture a query writes is keyed by the source dir it was built
    * from. Without the tag, verify (sf0.01) and bench (sf0.1) share ONE
    * mutable path and the write-once stamp makes "whichever ran last" own
    * it — the round-8 q79 hash-fail was the sf0.1 bench rewriting
    * `ivf_index_append` between the sf0.01 Spark dump and the DuckDB
    * oracle's file read. With the tag, each SF owns a distinct directory
    * and concurrent phases can never invalidate each other's on-disk state.
    */
  def path(dir: String, name: String): String = s"$root/${name}_${tag(dir)}"

  /** Build `path` with `build` unless its stamp already equals `stamp`.
    * On a mismatch the directory is deleted first, and the stamp is
    * written LAST: a build that throws leaves no stamp, so the next call
    * rebuilds instead of serving a half-written fixture.
    *
    * @return `path`
    */
  def ensure(spark: SparkSession, path: String, stamp: String)(build: => Unit): String = {
    if (!readStamp(spark, path).contains(stamp)) {
      val fs = IndexProtocol.fileSystem(spark, path)
      fs.delete(new Path(path), true)
      build
      val out = fs.create(new Path(path, StampFile), true)
      try out.write(stamp.getBytes(UTF_8)) finally out.close()
    }
    path
  }

  /** The stamp recorded at `path`, None when there is none. A stamp whose
    * checksum sidecar no longer matches (rewritten by a writer that
    * bypasses Hadoop) reads as none, so the fixture rebuilds.
    */
  def readStamp(spark: SparkSession, path: String): Option[String] = {
    val fs = IndexProtocol.fileSystem(spark, path)
    val p = new Path(path, StampFile)
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
      }
    } catch { case _: ChecksumException => None }
  }

  /** The content columns each source table is fingerprinted over. */
  private val FingerprintColumns = Map(
    "documents" -> Seq("doc_id", "text"),
    "embeddings" -> Seq("vec_id", "embedding"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"))

  /** `count|bit_xor(xxhash64(content columns))` of `df` read as `table`.
    * A CONTENT hash, order-insensitive like a sum but overflow-free under
    * ANSI mode: count + sum(id) is fixed by the row count under sequential
    * ids, so a regenerated source with the same cardinality but different
    * content would keep serving its stale fixture (round-6 advice).
    */
  def fingerprint(df: DataFrame, table: String): String = {
    val r = df.agg(
      count(lit(1)), bit_xor(xxhash64(FingerprintColumns(table).map(col): _*))).head()
    s"${r.get(0)}|${r.get(1)}"
  }

  /** JVM-local memo of each source table's [[fingerprint]] (r17): every
    * stamped query re-derived it with a ~0.17 s Spark job at sf0.1 INSIDE
    * its timed body, yet testdata is immutable for the life of a
    * bench/verify JVM. Guarded by the source's [[Tables.sourceSignature]],
    * so a corpus regenerated in place invalidates mechanically, and a
    * source the signature cannot see is fingerprinted on every call.
    */
  private val fingerprintMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** `dir|count|xor|parts…`: the stamp of a fixture built from the whole
    * `table` of `dir`, with the caller's code-resident build parameters
    * appended.
    */
  def sourceStamp(spark: SparkSession, dir: String, table: String, parts: String*): String = {
    val key = s"$table|$dir"
    val sig = Tables.sourceSignature(s"$dir/$table.parquet")
    val fp = Option(fingerprintMemo.get(key)).filter(h => sig.contains(h._1)).map(_._2)
      .getOrElse {
        val f = fingerprint(Tables(spark, dir, table), table)
        sig.foreach(s => fingerprintMemo.put(key, (s, f)))
        f
      }
    (s"$dir|$fp" +: parts).mkString("|")
  }
}
