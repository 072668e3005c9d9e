package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-sink").toString

  test("partitioned lake write + predicate read prunes to one partition") {
    val dir = tmpDir() + "/lake"
    val df = Seq(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0), (3L, "2024-01-02", 30.0))
      .toDF("id", "event_date", "v")
    Sinks.writePartitionedLake(df, "event_date", dir)
    val part = Sinks.readLakePartition(spark, dir, "event_date", "2024-01-01")
    assert(part.select("id").as[Long].collect().toSet == Set(1L, 2L))
    // pruning must be visible in the physical plan as a PartitionFilter
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"), plan.take(500))
  }

  test("orc format round-trips through the lake writer") {
    val dir = tmpDir() + "/orclake"
    Seq((1L, "2024-01-01")).toDF("id", "event_date").pipe(df =>
      Sinks.writePartitionedLake(df, "event_date", dir, format = "orc"))
    assert(spark.read.format("orc").load(dir).count() == 1)
  }

  test("writeKeyedUpsert keeps one deterministic row per key") {
    val dir = tmpDir() + "/upsert"
    val df = Seq(("a", 1, "old"), ("a", 2, "new"), ("b", 1, "x")).toDF("k", "ver", "tag")
    Sinks.writeKeyedUpsert(df, Seq("k"), Seq(col("ver").desc), dir)
    val out = spark.read.parquet(dir).select("k", "tag").as[(String, String)].collect().toMap
    assert(out == Map("a" -> "new", "b" -> "x"))
  }

  test("upsertBatch: newer batch wins per key, new keys accumulate") {
    val dir = tmpDir() + "/table"
    // the returned count is the table's size after the merge
    assert(Sinks.upsertBatch(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"), Seq("k"), dir, version = 0L) == 2L)
    assert(Sinks.upsertBatch(Seq(("b", 20.0), ("c", 3.0)).toDF("k", "v"), Seq("k"), dir, version = 1L) == 3L)
    val out = spark.read.parquet(dir).select("k", "v").as[(String, Double)].collect().toMap
    assert(out == Map("a" -> 1.0, "b" -> 20.0, "c" -> 3.0))
    // an empty first batch (e.g. a no-data micro-batch) still reports
    val empty = Seq.empty[(String, Double)].toDF("k", "v")
    assert(Sinks.upsertBatch(empty, Seq("k"), tmpDir() + "/empty", version = 0L) == 0L)
  }

  test("fanOut runs the writes side by side, in the caller's local properties, results in order") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.tag", "fan-out-caller")
    try {
      // each write waits until BOTH are running: a sequential runner would
      // time out on the first
      val bothRunning = new java.util.concurrent.CountDownLatch(2)
      val seen = Sinks.fanOut(Seq("a", "b").map { path =>
        path -> { () =>
          bothRunning.countDown()
          assert(bothRunning.await(30, java.util.concurrent.TimeUnit.SECONDS), "writes ran one by one")
          s"$path:${sc.getLocalProperty("graft.test.tag")}"
        }
      })
      assert(seen == Seq("a:fan-out-caller", "b:fan-out-caller"))
    } finally sc.setLocalProperty("graft.test.tag", null)
  }

  test("fanOut waits for every write, then throws the first failure with the rest suppressed") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](Sinks.fanOut(Seq(
      "t1" -> (() => throw new IllegalStateException("t1 failed")),
      "t2" -> { () => Thread.sleep(300); slowDone.set(true) },
      "t3" -> (() => throw new IllegalArgumentException("t3 failed")))))
    assert(e.getMessage == "t1 failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("t3 failed"))
    assert(slowDone.get, "fanOut returned before every write had finished")
  }

  test("fanOut refuses two writes to one table before running any") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalArgumentException](Sinks.fanOut(Seq(
      "x/t" -> (() => ran.incrementAndGet()), "x/t" -> (() => ran.incrementAndGet()))))
    assert(e.getMessage.contains("single writer"))
    assert(ran.get == 0)
  }

  test("upsertBatchPartitioned merges touched partitions, never rewrites the rest") {
    val dir = tmpDir() + "/ptable"
    Sinks.upsertBatchPartitioned(
      Seq(("a", "2024-01-01", 1.0), ("b", "2024-01-02", 2.0)).toDF("k", "d", "v"),
      Seq("k"), "d", dir, version = 0L)
    val untouched = new java.io.File(s"$dir/d=2024-01-02").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq
    Sinks.upsertBatchPartitioned(
      Seq(("a", "2024-01-01", 10.0), ("c", "2024-01-01", 3.0)).toDF("k", "d", "v"),
      Seq("k"), "d", dir, version = 1L)
    val out = spark.read.parquet(dir).select("k", "v").as[(String, Double)].collect().toMap
    assert(out == Map("a" -> 10.0, "b" -> 2.0, "c" -> 3.0))
    // the 2024-01-02 partition's files are bit-for-bit untouched
    val after = new java.io.File(s"$dir/d=2024-01-02").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq
    assert(after == untouched, s"untouched partition was rewritten: $untouched -> $after")
  }

  test("appendVersioned partials: replay overwrites only its own version; read merges") {
    val dir = tmpDir() + "/partials"
    Sinks.appendVersioned(Seq(("w1", 2L, 100L), ("w2", 1L, 50L)).toDF("key", "cnt", "s"), dir, 0L)
    Sinks.appendVersioned(Seq(("w1", 3L, 300L)).toDF("key", "cnt", "s"), dir, 1L)
    // replay of batch 1 with corrected content replaces ONLY __ver=1
    Sinks.appendVersioned(Seq(("w1", 4L, 400L)).toDF("key", "cnt", "s"), dir, 1L)
    val merged = Sinks.readMergedPartials(spark, dir, Seq("key"), Seq("cnt", "s"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(merged == Map("w1" -> ((6L, 500L)), "w2" -> ((1L, 50L))))
  }

  test("compactPartials collapses versions, preserves totals, accepts new batches") {
    val dir = tmpDir() + "/compact"
    Sinks.appendVersioned(Seq(("w1", 2L), ("w2", 1L)).toDF("key", "cnt"), dir, 0L)
    Sinks.appendVersioned(Seq(("w1", 3L)).toDF("key", "cnt"), dir, 1L)
    Sinks.compactPartials(spark, dir, Seq("key"), Seq("cnt"))
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("__ver="))
    assert(dirs.toSeq == Seq("__ver=1"))
    Sinks.appendVersioned(Seq(("w2", 4L)).toDF("key", "cnt"), dir, 2L)
    val merged = Sinks.readMergedPartials(spark, dir, Seq("key"), Seq("cnt"))
      .as[(String, Long)].collect().toMap
    assert(merged == Map("w1" -> 5L, "w2" -> 5L))
  }

  test("swapIn: a crash at ANY step between the renames leaves a complete readable table") {
    val root = tmpDir()
    val dir = s"$root/swap"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    Sinks.upsertBatch(Seq(("a", 1.0)).toDF("k", "v"), Seq("k"), dir, version = 0L)
    // simulate a crash BETWEEN step 1 (rename target aside) and step 2
    // (rename tmp in) of the next upsert's swap: old generation parked,
    // live path missing, new generation stranded in __tmp
    val target = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(dir + Sinks.OldSuffix)
    fs.rename(target, old)
    // readers still see the last complete generation via the resolver
    val readable = Sinks.resolveTablePath(spark, dir)
    assert(spark.read.parquet(readable).select("k", "v").as[(String, Double)]
      .collect().toMap == Map("a" -> 1.0))
    // the next writer recovers the parked generation, merges, and swaps in
    Sinks.upsertBatch(Seq(("b", 2.0)).toDF("k", "v"), Seq("k"), dir, version = 1L)
    assert(spark.read.parquet(dir).select("k", "v").as[(String, Double)]
      .collect().toMap == Map("a" -> 1.0, "b" -> 2.0))
    assert(!fs.exists(old), "trash must be collected after a completed swap")
  }

  test("upsertBatchPartitioned: crashed partition swap is recoverable, trash invisible to readers") {
    val dir = tmpDir() + "/ptable2"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    Sinks.upsertBatchPartitioned(
      Seq(("a", "2024-01-01", 1.0), ("b", "2024-01-02", 2.0)).toDF("k", "d", "v"),
      Seq("k"), "d", dir, version = 0L)
    // simulate the crash window: one partition parked in the OUTSIDE trash,
    // its live directory missing
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + Sinks.OldSuffix))
    fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/d=2024-01-01"),
      new org.apache.hadoop.fs.Path(s"${dir + Sinks.OldSuffix}/d=2024-01-01"))
    // the trash lives outside the table root → no phantom partition values
    assert(spark.read.parquet(dir).select("k").as[String].collect().toSeq == Seq("b"))
    Sinks.recoverPartitions(spark, dir)
    assert(spark.read.parquet(dir).select("k", "v").as[(String, Double)]
      .collect().toMap == Map("a" -> 1.0, "b" -> 2.0))
  }

  test("compaction contract: clean replay-then-compact is exact; replay AFTER compaction is the documented hazard") {
    // ---- clean path: replays before compaction are idempotent, the
    // compacted table accepts later batches, totals stay exact
    val dir = tmpDir() + "/contract"
    Sinks.appendVersioned(Seq(("w1", 2L)).toDF("key", "cnt"), dir, 0L)
    Sinks.appendVersioned(Seq(("w1", 3L), ("w2", 1L)).toDF("key", "cnt"), dir, 1L)
    Sinks.appendVersioned(Seq(("w1", 3L), ("w2", 1L)).toDF("key", "cnt"), dir, 1L) // replay pre-compact
    Sinks.compactPartials(spark, dir, Seq("key"), Seq("cnt"))
    Sinks.appendVersioned(Seq(("w2", 4L)).toDF("key", "cnt"), dir, 2L)
    def merged() = Sinks.readMergedPartials(spark, dir, Seq("key"), Seq("cnt"))
      .as[(String, Long)].collect().toMap
    assert(merged() == Map("w1" -> 5L, "w2" -> 5L))
    // ---- forbidden path 1: replaying a batch BELOW maxVer after
    // compaction double-adds — its own partition was folded into the
    // compacted one and no longer exists to overwrite. Pin the failure
    // mode so the contract stays honest.
    Sinks.appendVersioned(Seq(("w1", 2L)).toDF("key", "cnt"), dir, 0L) // replay post-compact
    assert(merged() == Map("w1" -> 7L, "w2" -> 5L),
      "a post-compaction replay of a folded batch MUST double-add; if not, the contract changed")
    // ---- forbidden path 2: replaying the maxVer batch itself OVERWRITES
    // the compacted partition (which holds the fold of all prior batches)
    // with just that batch's partials — silent data loss, the second face
    // of the same single-writer/no-replay contract.
    val dir2 = tmpDir() + "/contract2"
    Sinks.appendVersioned(Seq(("w1", 2L)).toDF("key", "cnt"), dir2, 0L)
    Sinks.appendVersioned(Seq(("w1", 3L)).toDF("key", "cnt"), dir2, 1L)
    Sinks.compactPartials(spark, dir2, Seq("key"), Seq("cnt")) // __ver=1 now holds w1=5
    Sinks.appendVersioned(Seq(("w1", 3L)).toDF("key", "cnt"), dir2, 1L) // replay maxVer
    val m2 = Sinks.readMergedPartials(spark, dir2, Seq("key"), Seq("cnt"))
      .as[(String, Long)].collect().toMap
    assert(m2 == Map("w1" -> 3L),
      "replaying the compaction carrier batch MUST drop folded history; if not, the contract changed")
  }

  test("compactLakePartition: file count hits ceil(rows/target), content exact, idempotent, others untouched") {
    val dir = tmpDir() + "/fraglake"
    // 250 rows over 2 dates, written through 25 tasks -> ~25 small files
    // per date directory (the streaming-trigger buildup shape)
    val df = spark.range(250).selectExpr(
      "id", "CASE WHEN id % 2 = 0 THEN '2024-01-01' ELSE '2024-01-02' END AS event_date")
    df.repartition(25).write.partitionBy("event_date").parquet(dir)
    def filesIn(part: String): Array[java.io.File] =
      new java.io.File(s"$dir/event_date=$part").listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
    val beforeOther = filesIn("2024-01-02").map(_.getName).sorted.toSeq
    assert(filesIn("2024-01-01").length > 5, "fixture failed to fragment")
    // 125 rows at 50/file -> exactly ceil(125/50) = 3 files
    Sinks.compactLakePartition(spark, dir, "event_date", "2024-01-01",
      targetRecordsPerFile = 50L)
    assert(filesIn("2024-01-01").length == 3,
      s"expected 3 compacted files, got ${filesIn("2024-01-01").length}")
    val ids = Sinks.readLakePartition(spark, dir, "event_date", "2024-01-01")
      .select("id").as[Long].collect().toSet
    assert(ids == (0L until 250L by 2).toSet, "compaction lost or invented rows")
    // untouched partitions' files are never rewritten
    assert(filesIn("2024-01-02").map(_.getName).sorted.toSeq == beforeOther)
    // idempotent: a second compaction neither changes content nor count
    Sinks.compactLakePartition(spark, dir, "event_date", "2024-01-01",
      targetRecordsPerFile = 50L)
    assert(filesIn("2024-01-01").length == 3)
    assert(Sinks.readLakePartition(spark, dir, "event_date", "2024-01-01")
      .select("id").as[Long].collect().toSet == ids)
    // no staging/trash residue inside or beside the table
    assert(!new java.io.File(dir + "__tmp").exists())
    assert(!new java.io.File(dir + Sinks.OldSuffix).exists())
  }

  test("compactLakePartition: crashed swap (live parked in trash) is recovered, then compacts") {
    val dir = tmpDir() + "/crashlake"
    spark.range(60).selectExpr("id", "'2024-01-01' AS event_date")
      .repartition(6).write.partitionBy("event_date").parquet(dir)
    // simulate the swap's crash window between rename(live, trash) and
    // rename(tmp, live): the only complete generation sits in the trash
    val live = new java.io.File(s"$dir/event_date=2024-01-01")
    val trashRoot = new java.io.File(dir + Sinks.OldSuffix)
    trashRoot.mkdirs()
    assert(live.renameTo(new java.io.File(trashRoot, "event_date=2024-01-01")))
    Sinks.compactLakePartition(spark, dir, "event_date", "2024-01-01",
      targetRecordsPerFile = 60L)
    val out = Sinks.readLakePartition(spark, dir, "event_date", "2024-01-01")
      .select("id").as[Long].collect().toSet
    assert(out == (0L until 60L).toSet, "recovery lost the parked generation")
    assert(new java.io.File(s"$dir/event_date=2024-01-01").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
  }

  test("swapIn: a failed install rename restores the parked generation and raises") {
    val dir = tmpDir() + "/swapfail"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    Sinks.upsertBatch(Seq(("a", 1.0)).toDF("k", "v"), Seq("k"), dir, version = 0L)
    // Hadoop rename reports a missing source by RETURNING FALSE — a swap
    // that ignored it would park the live table, fail the install silently,
    // then delete the parked copy. The fixed protocol must restore the live
    // generation and raise instead.
    intercept[IllegalStateException] {
      Sinks.swapIn(fs,
        new org.apache.hadoop.fs.Path(dir + "__tmp"), // never written
        new org.apache.hadoop.fs.Path(dir))
    }
    assert(spark.read.parquet(dir).select("k", "v").as[(String, Double)]
      .collect().toMap == Map("a" -> 1.0), "failed install lost the live table")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + Sinks.OldSuffix)))
  }

  test("upsertBatchPartitioned: a parked-only partition survives batches touching other partitions") {
    val dir = tmpDir() + "/ptable3"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    Sinks.upsertBatchPartitioned(
      Seq(("a", "2024-01-01", 1.0), ("b", "2024-01-02", 2.0)).toDF("k", "d", "v"),
      Seq("k"), "d", dir, version = 0L)
    // crash window of a previous upsert: d=2024-01-01's ONLY copy parked in
    // the outside trash, live directory missing
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + Sinks.OldSuffix))
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/d=2024-01-01"),
      new org.apache.hadoop.fs.Path(s"${dir + Sinks.OldSuffix}/d=2024-01-01")))
    // a batch touching ONLY the other partition must restore the parked
    // copy, not blanket-delete it with the trash root
    Sinks.upsertBatchPartitioned(
      Seq(("b", "2024-01-02", 20.0)).toDF("k", "d", "v"), Seq("k"), "d", dir, version = 1L)
    assert(spark.read.parquet(dir).select("k", "v").as[(String, Double)]
      .collect().toMap == Map("a" -> 1.0, "b" -> 20.0),
      "parked-only partition was destroyed by an unrelated batch")
    // and a batch touching the recovered partition merges against its
    // restored history (not empty history)
    Sinks.upsertBatchPartitioned(
      Seq(("c", "2024-01-01", 3.0)).toDF("k", "d", "v"), Seq("k"), "d", dir, version = 2L)
    assert(spark.read.parquet(dir).select("k", "v").as[(String, Double)]
      .collect().toMap == Map("a" -> 1.0, "b" -> 20.0, "c" -> 3.0))
  }

  test("compactLakePartition recovers another partition's parked-only copy instead of destroying it") {
    val dir = tmpDir() + "/crosslake"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    Seq((1L, "2024-01-01"), (2L, "2024-01-02"))
      .toDF("id", "d").write.partitionBy("d").parquet(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + Sinks.OldSuffix))
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/d=2024-01-01"),
      new org.apache.hadoop.fs.Path(s"${dir + Sinks.OldSuffix}/d=2024-01-01")))
    // compacting the OTHER partition deletes the whole trash root at the
    // end — it must restore the parked partition first
    Sinks.compactLakePartition(spark, dir, "d", "2024-01-02")
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet == Set(1L, 2L),
      "compacting one partition destroyed another partition's parked-only copy")
  }

  test("ES/Cassandra sink configs build the reference's option surfaces") {
    val es = Sinks.EsSinkConfig("es1,es2", "jobs/_doc", "job_id",
      extra = Map("es.net.http.auth.user" -> "svc"))
    assert(es.options == Map(
      "es.nodes" -> "es1,es2",
      "es.port" -> "9200",
      "es.resource" -> "jobs/_doc",
      "es.mapping.id" -> "job_id",
      "es.write.operation" -> "upsert",
      "es.net.http.auth.user" -> "svc"))
    val cass = Sinks.CassandraSinkConfig("analytics", "company_stats")
    assert(cass.options == Map("keyspace" -> "analytics", "table" -> "company_stats"))
  }

  implicit class Pipe[A](a: A) { def pipe[B](f: A => B): B = f(a) }
}
