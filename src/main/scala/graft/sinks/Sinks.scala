package graft.sinks

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.functions.IndexProtocol
import graft.ops.Cleaning

/** Sink abstractions mirroring the reference's three sink families behind
  * one interface (SURVEY §1.3): Elasticsearch keyed-upsert docs (S5),
  * Cassandra aggregate tables (S6), and the MinIO date-partitioned raw lake
  * (S9) — all landed as columnar files in this offline harness.
  *
  * Scale notes: upsert semantics are modeled as deterministic dedup-by-key
  * BEFORE the write (what `es.mapping.id` gives the reference, reference:
  * bigdata-project/src/spark_batch_v2.py:246-251); the lake writer uses a
  * REAL partition column so readers get Catalyst partition pruning instead
  * of the reference's hand-built path globs (reference:
  * bigdata-project/src/spark_batch_v2.py:33).
  */
object Sinks {

  /** The reference's Elasticsearch sink option surface (S5, reference:
    * bigdata-project/src/spark_batch_v2.py:246-251): keyed upserts via
    * `es.mapping.id`. Connector-jar-gated like the Kafka module — this
    * config owns the option translation; [[writeKeyedUpsert]] models the
    * same semantics on files for the offline harness.
    */
  case class EsSinkConfig(
      nodes: String,
      resource: String,
      mappingId: String,
      port: Int = 9200,
      extra: Map[String, String] = Map.empty) {

    def options: Map[String, String] =
      Map(
        "es.nodes" -> nodes,
        "es.port" -> port.toString,
        "es.resource" -> resource,
        "es.mapping.id" -> mappingId,
        "es.write.operation" -> "upsert") ++ extra

    /** Jar-gated: requires elasticsearch-spark on the classpath. */
    def writer(df: DataFrame) =
      df.write.format("org.elasticsearch.spark.sql").options(options)
  }

  /** The reference's Cassandra aggregate-table sink options (S6, reference:
    * bigdata-project/src/spark_batch_v2.py:272-341): keyspace/table per
    * aggregate, append mode.
    */
  case class CassandraSinkConfig(
      keyspace: String,
      table: String,
      extra: Map[String, String] = Map.empty) {

    def options: Map[String, String] =
      Map("keyspace" -> keyspace, "table" -> table) ++ extra

    /** Jar-gated: requires spark-cassandra-connector on the classpath. */
    def writer(df: DataFrame) =
      df.write.format("org.apache.spark.sql.cassandra").options(options).mode("append")
  }

  /** Run one job's independent sink writes concurrently and return their
    * results in the order given. Each write is `tablePath -> write`.
    *
    * A sink write is a handful of small Spark jobs separated by driver work
    * (planning, commit, renames); run one after another, the executors sit
    * idle between them. Run side by side, their jobs share the cores.
    *
    * - The pool is created per call, one thread per write, so every thread
    *   inherits the caller's Spark local properties (job group, SQL
    *   execution root inside `foreachBatch`, scheduler pool) and active
    *   session; it is shut down before the call returns.
    * - The call waits for every write, so no table is still being written
    *   when it returns. If any failed, the first failure in the given
    *   order is rethrown with the others attached as suppressed. If the
    *   caller is interrupted while waiting (a stopped streaming query),
    *   the writes are interrupted too.
    * - Table paths must be distinct: each table keeps [[swapIn]]'s single
    *   writer.
    */
  def fanOut[T](writes: Seq[(String, () => T)]): Seq[T] = {
    val paths = writes.map(_._1)
    require(paths.distinct.size == paths.size,
      s"fanOut: each table needs a single writer, got ${paths.mkString(", ")}")
    val pool = Executors.newFixedThreadPool(math.max(1, writes.size))
    try {
      val futures = writes.map { case (_, write) =>
        pool.submit(new Callable[T] { def call(): T = write() })
      }
      val outcomes = futures.map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest => rest.foreach(first.addSuppressed); throw first
        case _ => outcomes.collect { case Right(v) => v }
      }
    } finally pool.shutdownNow()
  }

  /** Keyed idempotent write: last-writer-wins per key, deterministically. */
  def writeKeyedUpsert(
      df: DataFrame,
      key: Seq[String],
      orderBy: Seq[Column],
      path: String,
      format: String = "parquet"): Unit =
    Cleaning.dedupByKey(df, key, orderBy)
      .write.format(format).mode("overwrite").save(path)

  /** Date-partitioned lake append (the archiver's layout, S9). Supports
    * parquet and orc (BASELINE storage contract).
    */
  def writePartitionedLake(
      df: DataFrame,
      dateCol: String,
      path: String,
      format: String = "parquet"): Unit =
    df.write.format(format).mode("append").partitionBy(dateCol).save(path)

  /** Read one lake partition via a PREDICATE, not a path glob — shows up in
    * the plan as PartitionFilters, scanning only that directory.
    */
  def readLakePartition(
      spark: SparkSession,
      path: String,
      dateCol: String,
      date: String,
      format: String = "parquet"): DataFrame =
    spark.read.format(format).load(path).where(col(dateCol) === lit(date))

  /** Write a micro-batch of MERGEABLE partial aggregates as its own
    * `__ver=<batchId>` partition, read-time-merged by
    * [[readMergedPartials]]. This is the O(batch) streaming-aggregate sink:
    * nothing existing is read or rewritten, and a replayed batch
    * dynamically overwrites ONLY its own partition — exactly-once without
    * a read-modify-write of the table. Compact with [[upsertBatchPartitioned]]
    * when the partition count grows.
    */
  def appendVersioned(batch: DataFrame, path: String, version: Long): Unit =
    batch.withColumn("__ver", lit(version))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__ver")
      .parquet(path)

  /** Publish a DataFrame as ONE immutable subdirectory of an append-
    * structured table, all-or-nothing: the rows are staged OUTSIDE the
    * table root and moved in with a single atomic rename, so a reader can
    * never observe a partial publish — a parquet `mode("append")` job
    * commit moves task files one by one, and a crash mid-commit leaves a
    * visible subset, which is fatal when downstream ACCEPTANCE decisions
    * read the table (the fingerprint index: a partially-visible batch
    * would make a crash-replay recompute a smaller accepted set and
    * permanently drop the partially-indexed docs from the lake).
    *
    * `dirName` should be `col=value`-shaped (e.g. `batch=7`) so Spark's
    * partition discovery reads the directory set as one table with the
    * publish generation as a partition column.
    *
    * Replay-idempotent by construction: an existing target means this
    * generation already published (the rename happened, hence the whole
    * content is present) — the call returns false and writes nothing.
    * Crash windows: before the rename, only `<root>__stage` holds files
    * (cleaned on the next publish of the same generation); the rename
    * itself is atomic on HDFS and local filesystems, and a rename that
    * fails throws instead of returning true.
    */
  def publishDir(
      df: DataFrame, root: String, dirName: String,
      partitionBy: Seq[String] = Nil): Boolean = {
    val spark = df.sparkSession
    val fs = IndexProtocol.fileSystem(spark, root)
    val rootP = new Path(root)
    val target = new Path(rootP, dirName)
    if (fs.exists(target)) return false
    val stage = new Path(root + "__stage", dirName)
    fs.delete(stage, true)
    // hive-style subdirs inside the staged generation survive the rename
    // untouched, so a partitioned generation publishes just as atomically
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(stage.toString)
    if (!fs.exists(rootP)) fs.mkdirs(rootP)
    // Hadoop reports a failed rename by returning false (see [[swapIn]]);
    // reading it as success would record a generation that never landed
    require(fs.rename(stage, target), s"publish: failed to rename $stage to $target")
    fs.delete(new Path(root + "__stage"), true)
    true
  }

  /** Merge-on-read of [[appendVersioned]] partials: sums every partial
    * state per key. Downstream finalizers (e.g. exact averages from
    * (sum_cents, n)) run on the merged states.
    */
  def readMergedPartials(
      spark: SparkSession,
      path: String,
      key: Seq[String],
      sums: Seq[String]): DataFrame = {
    val aggs = sums.map(c => sum(col(c)).as(c))
    spark.read.parquet(path).groupBy(key.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Suffix of the rename-aside trash directory a crash-safe swap parks the
    * previous table generation in. Readers fall back to it when the live
    * path is mid-swap (see [[resolveTablePath]]).
    */
  val OldSuffix = "__old"

  /** Crash-safe table swap: the freshly-written `tmp` generation replaces
    * `target` with two renames and NO delete-before-rename window:
    *
    *   1. rename(target, target__old)   — previous generation parked aside
    *   2. rename(tmp, target)           — new generation in
    *   3. delete(target__old)           — trash collected
    *
    * A crash at ANY point leaves a complete table generation on disk:
    * before 1 → old table at `target`; between 1 and 2 → old table at
    * `target__old` (found by [[resolveTablePath]], restored by the next
    * swap's recovery step); between 2 and 3 → new table at `target`, stale
    * trash cleaned on the next swap. Contrast with delete-then-rename,
    * whose crash window strands the only copy in `tmp`.
    *
    * Single-writer contract: swaps and concurrent writers (e.g.
    * [[appendVersioned]] during a [[compactPartials]]) must be serialized
    * by the caller — a write landing in `target` between the compaction's
    * read and step 1 would be silently dropped. The streaming harness
    * guarantees this by running compaction from the same single-threaded
    * foreachBatch loop that owns the table.
    */
  def swapIn(
      fs: FileSystem,
      tmp: Path,
      target: Path,
      trash: Option[Path] = None): Unit = {
    // the default trash is a sibling of the target; partition-scoped swaps
    // pass an explicit trash OUTSIDE the table root, because a parked
    // `col=value__old` directory inside it would be parsed by readers as a
    // phantom partition value
    val old = trash.getOrElse(new Path(target.toString + OldSuffix))
    recoverSwap(fs, target, old)
    if (fs.exists(old)) fs.delete(old, true)
    if (old.getParent != null && !fs.exists(old.getParent)) fs.mkdirs(old.getParent)
    // Hadoop FileSystem.rename reports most failures by RETURNING FALSE, not
    // throwing — ignoring the results would let a failed install (e.g. a
    // missing/misnamed tmp) fall through to the trash delete and destroy the
    // only copy of the table. Park-failure aborts with nothing moved;
    // install-failure restores the parked generation before failing.
    if (fs.exists(target)) {
      require(fs.rename(target, old), s"swap: failed to park $target at $old")
    }
    // some FileSystems return false on failure, others (RawLocalFileSystem
    // on a missing source) throw — restore the parked generation on BOTH
    val installed =
      try fs.rename(tmp, target)
      catch {
        case e: java.io.IOException =>
          if (fs.exists(old)) fs.rename(old, target)
          throw new IllegalStateException(
            s"swap: failed to install $tmp at $target (previous generation restored)", e)
      }
    if (!installed) {
      if (fs.exists(old)) fs.rename(old, target)
      throw new IllegalStateException(
        s"swap: failed to install $tmp at $target (previous generation restored)")
    }
    fs.delete(old, true)
  }

  /** Recovery step of [[swapIn]]: a crash between its steps 1 and 2 left
    * the live path empty and the last good generation parked aside —
    * rename it back. The rename is checked: Hadoop reports a failed rename
    * as `false`, and a silent one would leave the table parked while the
    * caller reads it as empty.
    */
  private def recoverSwap(fs: FileSystem, target: Path, old: Path): Unit =
    if (!fs.exists(target) && fs.exists(old))
      require(fs.rename(old, target), s"swap recovery: failed to restore $old at $target")

  // ------------------------------------------------------ staged replace
  //
  // The two replace shapes every swap-managed table and index goes
  // through: a whole table ([[replaceTable]]) or some of its `col=value`
  // partition directories ([[replacePartitions]]). They own the recovery,
  // staging cleanup, [[swapIn]] and trash cleanup around the write;
  // callers name their staging suffix and write into it.

  /** Restore a table a crashed [[replaceTable]] swap left parked at
    * `<path>__old`. No-op when the live path exists. Writers that READ the
    * table before replacing it run this first (as [[replaceTable]] does),
    * or they would mistake the crash window for an empty table.
    */
  def recoverTable(spark: SparkSession, path: String): Unit =
    recoverSwap(IndexProtocol.fileSystem(spark, path), new Path(path), new Path(path + OldSuffix))

  /** Whole-table replace: recover a parked previous generation
    * ([[recoverTable]] — `build` may READ the live table), clear the
    * staging path `<path><stagingSuffix>`, let `build` write the new
    * generation there, swap it in ([[swapIn]]) and clear the staging path.
    * Returns what `build` returns.
    *
    * Crash windows: before the swap the live table is untouched (an
    * orphaned staging dir is cleared by the next attempt); between the
    * swap's renames the table is parked at `<path>__old`, restored by
    * [[recoverTable]]. Single-writer contract as [[swapIn]].
    */
  def replaceTable[T](
      spark: SparkSession,
      path: String,
      stagingSuffix: String = "__next")(build: String => T): T = {
    val fs = IndexProtocol.fileSystem(spark, path)
    val staged = new Path(path + stagingSuffix)
    recoverTable(spark, path)
    fs.delete(staged, true)
    val out = build(staged.toString)
    swapIn(fs, staged, new Path(path))
    fs.delete(staged, true)
    out
  }

  /** Per-partition replace: [[stagePartitions]] under `<path>__tmp`, then
    * [[swapPartitions]] of the `col=value` directories `stage` returns
    * (none: nothing to swap, only the staging and trash roots are
    * cleared). Returns those directories. Every one of them must have been
    * staged — a partition the staged write did not produce (e.g. a null
    * partition value, which Spark writes under another name) fails before
    * anything is swapped.
    */
  def replacePartitions(spark: SparkSession, path: String)(
      stage: String => Seq[String]): Seq[String] = {
    val fs = IndexProtocol.fileSystem(spark, path)
    val dirs = stagePartitions(spark, path, "__tmp")(stage)
    dirs.foreach { d =>
      require(fs.exists(new Path(path + "__tmp", d)),
        s"replace: the staged write at ${path}__tmp produced no $d")
    }
    swapPartitions(spark, path, "__tmp", dirs)
    dirs
  }

  /** First step of [[replacePartitions]]: restore every partition a crash
    * left parked ([[recoverPartitions]] — `stage` may read the table),
    * clear the staging root `<path><stagingSuffix>` and let `stage` write
    * `col=value` directories under it. Nothing live changes. Returns what
    * `stage` returns.
    */
  def stagePartitions[T](
      spark: SparkSession, path: String, stagingSuffix: String)(stage: String => T): T = {
    recoverPartitions(spark, path)
    IndexProtocol.fileSystem(spark, path).delete(new Path(path + stagingSuffix), true)
    stage(path + stagingSuffix)
  }

  /** Second step of [[replacePartitions]]: swap each staged `dir` in over
    * `<path>/<dir>` ([[swapIn]], its trash at `<path>__old/<dir>`, OUTSIDE
    * the table root so readers never parse it as a partition value), then
    * clear the staging and trash roots.
    *
    * Re-runnable on its own from any crash point after staging: a `dir`
    * whose staged copy is gone was already swapped in and is skipped. The
    * trash root is cleared through [[recoverPartitions]], which first
    * restores any parked partition whose live directory is missing (a
    * crash between a swap's renames) instead of deleting its only copy.
    */
  def swapPartitions(
      spark: SparkSession, path: String, stagingSuffix: String, dirs: Seq[String]): Unit = {
    val fs = IndexProtocol.fileSystem(spark, path)
    dirs.foreach { d =>
      val staged = new Path(path + stagingSuffix, d)
      if (fs.exists(staged))
        swapIn(fs, staged, new Path(path, d), trash = Some(new Path(path + OldSuffix, d)))
    }
    fs.delete(new Path(path + stagingSuffix), true)
    recoverPartitions(spark, path)
  }

  /** Resolve the readable generation of a swap-managed table: the live path
    * when present, else the parked `__old` generation a crashed swap left
    * behind. Readers composed with [[swapIn]] writers therefore always see
    * a complete table.
    */
  def resolveTablePath(
      spark: SparkSession,
      path: String): String = {
    val fs = IndexProtocol.fileSystem(spark, path)
    if (fs.exists(new Path(path))) path else path + OldSuffix
  }

  /** Compact an [[appendVersioned]] table: merge every partial state per
    * key and rewrite the table as one `__ver=<maxVer>` partition, bounding
    * read-side fan-in after many micro-batches. Log-compaction contract:
    * run only when the stream's checkpoint guarantees no replay of batches
    * ≤ maxVer — a replayed already-compacted batch would re-add its
    * partials (its own partition no longer exists to overwrite). Must not
    * run concurrently with an [[appendVersioned]] writer (see [[swapIn]]'s
    * single-writer contract).
    */
  def compactPartials(
      spark: SparkSession,
      path: String,
      key: Seq[String],
      sums: Seq[String]): Unit =
    replaceTable(spark, path, "__tmp") { tmp =>
      val maxVer = spark.read.parquet(path)
        .agg(max(col("__ver").cast("long"))).head.getLong(0)
      readMergedPartials(spark, path, key, sums)
        .withColumn("__ver", lit(maxVer))
        .write.mode("overwrite").partitionBy("__ver").parquet(tmp)
    }

  /** Merge a micro-batch into a keyed parquet table: newest version per key
    * wins (the file-sink equivalent of the reference's ES `es.mapping.id`
    * update-mode upserts, W6/W10). Written via a temp dir + atomic rename so
    * the source table is never read and overwritten in the same job.
    *
    * For use with `writeStream.foreachBatch` — pass the batchId as
    * `version`. NOTE: this rewrites the whole table per call — O(table) per
    * micro-batch. Fine for small keyed doc stores (the ES-upsert model);
    * for growing tables use [[upsertBatchPartitioned]], which touches only
    * the partitions present in the batch.
    *
    * Returns the table's row count after the merge, observed in the write
    * job itself (no re-read).
    */
  def upsertBatch(batch: DataFrame, key: Seq[String], path: String, version: Long): Long = {
    val spark = batch.sparkSession
    val withVer = batch.withColumn("__ver", lit(version))
    val fs = IndexProtocol.fileSystem(spark, path)
    replaceTable(spark, path, "__tmp") { tmp =>
      val merged =
        if (fs.exists(new Path(path)))
          spark.read.parquet(path).unionByName(withVer, allowMissingColumns = true)
        else withVer
      val written = Observation()
      Cleaning.dedupByKey(merged, key, Seq(col("__ver").desc))
        .observe(written, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(tmp)
      written.get("rows").asInstanceOf[Long]
    }
  }

  /** Partition-scoped keyed upsert: merges the micro-batch into ONLY the
    * `partitionCol` partitions it touches. Each affected partition is
    * re-merged (existing rows of that partition ∪ batch, newest `__ver` per
    * key wins) into a staging dir, then swapped in; untouched partitions'
    * files are never read or rewritten. Cost per batch is O(touched
    * partitions), not O(table) — the shape that survives a year of
    * micro-batches into a date-partitioned table.
    *
    * Partition values must be non-null and filesystem-plain (dates, hours):
    * the swap addresses partition DIRECTORIES by `col=value`.
    */
  def upsertBatchPartitioned(
      batch: DataFrame,
      key: Seq[String],
      partitionCol: String,
      path: String,
      version: Long): Unit = {
    val spark = batch.sparkSession
    val withVer = batch.withColumn("__ver", lit(version))
    val fs = IndexProtocol.fileSystem(spark, path)
    if (!fs.exists(new Path(path))) {
      withVer.write.partitionBy(partitionCol).parquet(path)
      return
    }
    // the replace restores every parked-only partition (live dir missing)
    // BEFORE this history read: without that, a batch touching one would
    // merge against empty history and lose every key not in the batch
    replacePartitions(spark, path) { tmp =>
      // BOUNDED collect (same contract as Similarity's centroid-model
      // collects): the values fetched are PARTITION KEYS of one micro-batch
      // — a handful of dates by construction, bounded by the table's
      // partition count, never row data. A batch spanning unbounded
      // distinct partition values would be mis-partitioned upstream, not a
      // reason to distribute this list.
      val parts = withVer.select(partitionCol).distinct().collect().map(_.get(0)).toSeq
      val existing = spark.read.parquet(path)
        .filter(col(partitionCol).isInCollection(parts))
      Cleaning.dedupByKey(
        existing.unionByName(withVer, allowMissingColumns = true),
        key, Seq(col("__ver").desc))
        .write.mode("overwrite").partitionBy(partitionCol).parquet(tmp)
      parts.map(p => s"$partitionCol=$p")
    }
  }

  /** Compact ONE partition of a partitioned lake into files of
    * `targetRecordsPerFile`: the antidote to small-file buildup under
    * streaming triggers — the reference's 50-record JSON flushes
    * (reference: bigdata-project/src/kafka_to_minio.py:63-75) write
    * thousands of tiny objects per day, and at lake scale the resulting
    * per-file open/footer overhead comes to dominate every scan.
    *
    * Scope is deliberately one partition per call: compaction cost is
    * O(partition), never O(table), and the natural cadence is "compact
    * yesterday's date partition once it stops receiving appends". The
    * rewrite is `repartition(ceil(rows/target))` — one bounded shuffle of
    * the partition's rows into evenly-sized files — replaced through the
    * same [[replacePartitions]] as the keyed upserts. A crash at any point
    * leaves a complete generation recoverable ([[recoverPartitions]] runs
    * first, and covers the read side); re-running after success is
    * idempotent (same content, same file count).
    *
    * Single-writer contract (as [[swapIn]]): do not compact a partition
    * concurrently with a writer appending to it — compact partitions that
    * have gone cold.
    */
  def compactLakePartition(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      partitionValue: String,
      targetRecordsPerFile: Long = 1000000L,
      sortWithin: Seq[String] = Nil): Unit = {
    require(targetRecordsPerFile > 0, "targetRecordsPerFile must be positive")
    val fs = IndexProtocol.fileSystem(spark, path)
    val dirName = s"$partitionCol=$partitionValue"
    val live = new Path(path, dirName)
    replacePartitions(spark, path) { staging =>
      if (!fs.exists(live)) Nil
      else {
        val rows = spark.read.parquet(live.toString)
        val n = rows.count()
        if (n == 0L) Nil
        else {
          val nFiles = ((n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
          // sort-on-write enables parquet row-group min/max skipping on the
          // sort columns (RowGroupSkipSpec measures 9.7% vs 100% decoded for
          // a 5% predicate) — compaction rewrites the partition anyway, so
          // the ordering is free at the one place unsorted appends accumulate
          val shaped = rows.repartition(nFiles)
          (if (sortWithin.isEmpty) shaped else shaped.sortWithinPartitions(sortWithin.map(col): _*))
            .write.mode("overwrite").parquet(s"$staging/$dirName")
          Seq(dirName)
        }
      }
    }
  }

  /** Restore any partition directories a crashed [[upsertBatchPartitioned]]
    * swap left parked in the table's `__old` trash: each parked partition
    * whose live directory is missing is renamed back in. Call before
    * reading a partition-swapped table after an unclean shutdown.
    */
  def recoverPartitions(
      spark: SparkSession,
      path: String): Unit = {
    val fs = IndexProtocol.fileSystem(spark, path)
    val trashRoot = new Path(path + OldSuffix)
    if (fs.exists(trashRoot)) {
      fs.listStatus(trashRoot).foreach { st =>
        val live = new Path(path, st.getPath.getName)
        // checked before the trash delete below: that delete would destroy
        // the only copy of a partition whose restore failed
        if (!fs.exists(live))
          require(fs.rename(st.getPath, live),
            s"partition recovery: failed to restore ${st.getPath} at $live")
      }
      fs.delete(trashRoot, true)
    }
  }

  /** Streaming micro-batched archiver (S9/W9): the reference hand-rolls a
    * 50-records-or-60-s buffer (reference:
    * bigdata-project/src/kafka_to_minio.py:47-75); Structured Streaming's
    * processing-time trigger + file sink subsumes it with exactly-once
    * semantics from the checkpoint.
    */
  def streamingLakeWriter(
      df: DataFrame,
      dateCol: String,
      path: String,
      checkpoint: String,
      triggerInterval: String = "60 seconds"): DataStreamWriter[Row] =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy(dateCol)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .outputMode("append")
}
