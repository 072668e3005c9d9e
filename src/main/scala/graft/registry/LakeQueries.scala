package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Dedup
import graft.pipeline.IngestPipeline
import graft.sources.Tables

/** Lake, source-format and ingest registry queries: JSON, ORC, CSV and
  * WARC lakes, partitioned, compacted, evolved and snapshot reads, HTML
  * extraction, decoded media blobs, and the exactly-once ingest loop.
  */
object LakeQueries {

  /** The q106/q113 HTML wrapper: markup injected deterministically around
    * the corpus text — a full page with script+style payloads (d%3==0),
    * inline tags with entities (d%3==1), and a no-markup control. ONE
    * definition feeds the q106 extraction gate, the q113 WARC bodies and
    * (via [[htmlWrappedSql]]) both oracles.
    */
  private[graft] def htmlWrapped(d: Column, text: Column): Column =
    when(d % 3 === 0, concat(
        lit("<html><head><script type=\"a\">var x = 1 < 2;</script>" +
          "<style>.c { }</style></head><body><p>"),
        text, lit("</p></body></html>")))
      .when(d % 3 === 1, concat(
        lit("<div class=\"x\">Tom &amp; co say &quot;hi&quot;: </div>"),
        text, lit(" &lt;tail&gt;&nbsp;end")))
      .otherwise(text)

  /** The DuckDB mirror of [[htmlWrapped]] over (doc_id, text). Single-line
    * on purpose: a leading "||" would lose a pipe to an enclosing
    * template's stripMargin. */
  private[graft] val htmlWrappedSql: String =
    "CASE WHEN doc_id % 3 = 0 THEN " +
      "'<html><head><script type=\"a\">var x = 1 < 2;</script><style>.c { }</style></head><body><p>' " +
      "|| text || '</p></body></html>' " +
      "WHEN doc_id % 3 = 1 THEN " +
      "'<div class=\"x\">Tom &amp; co say &quot;hi&quot;: </div>' " +
      "|| text || ' &lt;tail&gt;&nbsp;end' " +
      "ELSE text END"

  /** Stamped build of the q113 WARC fixture: eight containers written by
    * the distributed sharded writer ([[graft.sources.Warc.writeSharded]]),
    * one response record per document with the q106 HTML wrapper as its
    * body, record id / target URI / Content-Length all pure formulas of
    * doc_id — so DuckDB predicts every parsed column from the base table
    * (the q37/q58 encode-side-formula discipline). Every 31st doc
    * (d%31==7) declares a WRONG Content-Length, so the parser's
    * quarantine+resync path runs inside the gate corpus and those docs
    * must be absent from the good output.
    */
  private[graft] def ensureWarcFixture(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "warc_lake")
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents", "warc-v2")) {
      val d = col("doc_id")
      def rows(shard: Column) = docs.select(
        shard.as("shard"),
        d.as("sort_key"),
        concat(lit("urn:graft:"), d.cast("string")).as("record_id"),
        concat(lit("https://site"), (d % 40).cast("string"),
          lit(".example.com/p/"), d.cast("string")).as("target_uri"),
        htmlWrapped(d, col("text")).as("body"),
        when(d % 31 === 7, lit(-5)).otherwise(lit(0)).as("len_delta"))
      // half the corpus in plain containers, half in per-record-gzip
      // ones (the Common Crawl transport) — ONE read consumes both
      graft.sources.Warc.writeSharded(s,
        rows(pmod(d, lit(8))).filter(col("shard") < 4),
        s"$fixture/warc", shards = 4)
      graft.sources.Warc.writeSharded(s,
        rows(pmod(d, lit(8)) - 4).filter(col("shard") >= 0),
        s"$fixture/warc", shards = 4, gzip = true)
    }
  }

  /** The declared schema of the q112 CSV lake (the [[CsvLake]] contract:
    * schemas are declared, never inferred). */
  private[graft] val CsvLakeSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("metric", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("flag", org.apache.spark.sql.types.StringType)))

  /** Stamped build of the q112 CSV lake fixture: one line per document,
    * synthesized from doc_id so DuckDB reads the same file as a DIRECT
    * oracle (no parquet twin). Three deterministic malformation kinds are
    * injected — a type-invalid numeric (id%7==3), a short row (id%13==5)
    * and an extra field (id%13==8) — the exact set both Spark PERMISSIVE
    * and DuckDB ignore_errors classify as malformed (prototyped; the
    * agreement IS the gate's subject). Lines are written distributedly
    * via the text sink, one pass, no driver materialization.
    */
  private[graft] def ensureCsvLake(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "csv_lake")
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents", "csv-v1")) {
      val d = col("doc_id")
      val idS = d.cast("string")
      val nameS = concat(lit("name_"), (d % 50).cast("string"))
      val metricS = ((d * 7) % 1000).cast("string")
      val flagS = concat(lit("f"), (d % 2).cast("string"))
      val line =
        when(d % 7 === 3, concat_ws(",", idS, nameS, concat(lit("xx"), idS), flagS))
          .when(d % 13 === 5, concat_ws(",", idS, nameS))
          .when(d % 13 === 8, concat_ws(",", idS, nameS, metricS, flagS, lit("extra")))
          .otherwise(concat_ws(",", idS, nameS, metricS, flagS))
      docs.select(line.as("value")).write.mode("overwrite").text(s"$fixture/csv")
    }
  }

  /** Stamped build of the q115 snapshot-lake fixture: the full
    * reader-vs-maintenance timeline of [[graft.sinks.SnapshotLake]] —
    * gen 0 append (even docs), gen 1 append (the %4==1 quarter; the PIN
    * POINT), gen 2 compaction (rewrites every file), gen 3 append
    * (%8==3 — growth the pinned reader must never see), then a vacuum
    * keeping three generations (g1's manifest survives; g0's FILES
    * survive through g1's manifest). The gate reads the pinned
    * generation 1 AFTER all that maintenance: row-identical to the
    * pre-compaction state — exactly gens 0+1, which DuckDB re-derives
    * from the base table alone.
    */
  private[graft] def ensureSnapshotLake(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "snap_lake")
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents", "snap-v1")) {
      val base = docs.select("doc_id", "lang", "source", "n_chars")
      val root = s"$fixture/tbl"
      graft.sinks.SnapshotLake.append(base.filter(col("doc_id") % 2 === 0), root)
      graft.sinks.SnapshotLake.append(base.filter(col("doc_id") % 4 === 1), root)
      graft.sinks.SnapshotLake.compact(s, root, targetRecordsPerFile = 1000000L)
      graft.sinks.SnapshotLake.append(base.filter(col("doc_id") % 8 === 3), root)
      graft.sinks.SnapshotLake.vacuum(s, root, keepGenerations = 3)
    }
  }

  /** Evaluate a finished gate result ONCE before its presentation sort.
    * `orderBy`'s RangePartitioner samples its child to pick split points,
    * which re-executes the child a second time — but only down to the
    * nearest shuffle boundary, because shuffle output is reused, not
    * recomputed. So this matters exactly when the sort's child contains
    * NO exchange (q113: container read → parse → project, re-scanned in
    * full by the sampling pass — measured 1.30 s plain vs 0.83 s
    * persisted at sf0.1), and is a measured no-op when an exchange sits
    * directly below the sort (q124, q53 — see PLANS.md r16). Persisting
    * the finished result is what a user materializing results would do:
    * the sampling pass populates the cache, the sort reads it, and the
    * harnesses clear the cache between queries.
    */
  private def orderedOnce(df: DataFrame, cols: String*): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .orderBy(cols.map(col): _*)

  // The stamped fixtures this family's queries read. The ORC, partitioned,
  // fragmented, evolved and ingest lakes (q61, q65, q71-q74) stamp inline
  // in their queries and are not pre-built.
  private val WarcFixture = Prebuild("warc_lake", ensureWarcFixture)
  private val CsvFixture = Prebuild("csv_lake", ensureCsvLake)
  private val SnapshotFixture = Prebuild("snap_lake", ensureSnapshotLake)

  /** This family's registry records: builder, oracle and fixtures. */
  def records: Seq[Query] = Seq(
    // ---- the full ingest COMPOSITION (IngestPipeline): q69's fingerprint
    // index + the versioned doc lake + the applied-batch manifest run as ONE
    // crash-safe exactly-once transaction per micro-batch. Three batches
    // carrying quality rejects, intra-batch duplicates, cross-batch
    // duplicates AND a replayed already-committed batch are ingested; the
    // output is the terminal lake itself — (doc_id, ingest_batch) — derived
    // independently in DuckDB from the SOURCE table, so acceptance, dedup
    // precedence (first batch wins, min id within a batch), replay-safety
    // and partition placement are all inside the hash gate ----
    // q73: the ingest loop's terminal lake, derived from the SOURCE table —
    // quality filter mirrors q21's bucket bounds; intra-batch dedup is
    // min(doc_id) per text; cross-batch precedence is NOT EXISTS against
    // every earlier batch's accepted set. Independent of the fixture the
    // Spark side writes, so a pipeline defect (dropped batch, clobbered
    // partition, non-idempotent replay) fails the hash gate.
    Query("q73_incremental_ingest", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      def slice(rem: Int) =
        docs.filter(col("doc_id") % 3 === rem).select("doc_id", "text")
      val b0 = slice(0)
      val b1 = slice(1).unionByName(docs.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))) // b0 content replayed
      val b2 = slice(2).unionByName(docs.filter(col("doc_id") % 15 === 1)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))) // b1 content replayed
      // the root carries the manifest high-water mark, so a stale fixture
      // must be wiped, not overwritten (Fixture.ensure deletes it) — a
      // leftover manifest would gate the rebuild's batches out as "already
      // applied"
      val fixture = Fixture.path(dir, "ingest_root")
      Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents",
          Dedup.FingerprintIndexVersion, "ingest-v1")) {
        val paths = IngestPipeline.IngestPaths(fixture)
        IngestPipeline.ingestBatch(s, paths, b0, 0L)
        IngestPipeline.ingestBatch(s, paths, b1, 1L)
        IngestPipeline.ingestBatch(s, paths, b1, 1L) // committed replay: must no-op
        IngestPipeline.ingestBatch(s, paths, b2, 2L)
      }
      Tables.parquetScan(s, s"$fixture/doc_lake")
        .select(col("doc_id"), col("__ver").cast("long").as("ingest_batch"))
        .orderBy("doc_id")
    }, oracle = _ => """WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 15 = 0),
        |b2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 15 = 1),
        |a0 AS (SELECT MIN(doc_id) AS doc_id, text FROM b0
        |  WHERE len(string_split(text, ' ')) BETWEEN 5 AND 5000 GROUP BY text),
        |a1 AS (SELECT MIN(doc_id) AS doc_id, text FROM b1
        |  WHERE len(string_split(text, ' ')) BETWEEN 5 AND 5000
        |    AND NOT EXISTS (SELECT 1 FROM a0 WHERE a0.text = b1.text)
        |  GROUP BY text),
        |a2 AS (SELECT MIN(doc_id) AS doc_id, text FROM b2
        |  WHERE len(string_split(text, ' ')) BETWEEN 5 AND 5000
        |    AND NOT EXISTS (SELECT 1 FROM a0 WHERE a0.text = b2.text)
        |    AND NOT EXISTS (SELECT 1 FROM a1 WHERE a1.text = b2.text)
        |  GROUP BY text)
        |SELECT doc_id, CAST(0 AS BIGINT) AS ingest_batch FROM a0
        |UNION ALL SELECT doc_id, 1 FROM a1
        |UNION ALL SELECT doc_id, 2 FROM a2
        |ORDER BY doc_id""".stripMargin),
    // ---- q73's lake-maintenance half: the same three-batch ingest, then
    // compactCommitted(upTo=1) folds the first two __ver partitions into
    // one via the intent-logged two-rename protocol (one partition per
    // micro-batch is ~525k partitions/year at a per-minute cadence — the
    // fold is what keeps the versioned lake scannable). The output exposes
    // the COARSENED provenance (batches 0-1 now report ingest_batch=1), so
    // the hash gate checks content preservation AND that exactly the
    // committed range was folded ----
    // q74: q73's derivation with the fold's provenance coarsening applied —
    // batches 0 and 1 (the compacted range) report ingest_batch 1
    Query("q74_ingest_compaction", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      def slice(rem: Int) =
        docs.filter(col("doc_id") % 3 === rem).select("doc_id", "text")
      val b0 = slice(0)
      val b1 = slice(1).unionByName(docs.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val b2 = slice(2).unionByName(docs.filter(col("doc_id") % 15 === 1)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      val fixture = Fixture.path(dir, "ingest_root_c")
      Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents",
          Dedup.FingerprintIndexVersion, "ingest-compact-v1")) {
        val paths = IngestPipeline.IngestPaths(fixture)
        IngestPipeline.ingestBatch(s, paths, b0, 0L)
        IngestPipeline.ingestBatch(s, paths, b1, 1L)
        IngestPipeline.compactCommitted(s, paths, 1L)
        IngestPipeline.ingestBatch(s, paths, b2, 2L)
      }
      Tables.parquetScan(s, s"$fixture/doc_lake")
        .select(col("doc_id"), col("__ver").cast("long").as("ingest_batch"))
        .orderBy("doc_id")
    }, oracle = _ => """WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 15 = 0),
        |b2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 15 = 1),
        |a0 AS (SELECT MIN(doc_id) AS doc_id, text FROM b0
        |  WHERE len(string_split(text, ' ')) BETWEEN 5 AND 5000 GROUP BY text),
        |a1 AS (SELECT MIN(doc_id) AS doc_id, text FROM b1
        |  WHERE len(string_split(text, ' ')) BETWEEN 5 AND 5000
        |    AND NOT EXISTS (SELECT 1 FROM a0 WHERE a0.text = b1.text)
        |  GROUP BY text),
        |a2 AS (SELECT MIN(doc_id) AS doc_id, text FROM b2
        |  WHERE len(string_split(text, ' ')) BETWEEN 5 AND 5000
        |    AND NOT EXISTS (SELECT 1 FROM a0 WHERE a0.text = b2.text)
        |    AND NOT EXISTS (SELECT 1 FROM a1 WHERE a1.text = b2.text)
        |  GROUP BY text)
        |SELECT doc_id, CAST(1 AS BIGINT) AS ingest_batch FROM a0
        |UNION ALL SELECT doc_id, 1 FROM a1
        |UNION ALL SELECT doc_id, 2 FROM a2
        |ORDER BY doc_id""".stripMargin),
    // ---- multimodal: REAL PNG blobs (ImageIO-encoded, dims keyed by
    // media_id) -> per-partition feature extraction with a REAL ImageIO
    // decode. The output dims come from actually-decoded pixel grids, and
    // because the encode side keys dims by id, the oracle predicts by
    // formula exactly what a correct decoder must read back ----
    // q37's blobs are real ImageIO-encoded PNGs whose dims are keyed by
    // media_id at encode time; the oracle predicts by formula what a
    // correct ImageIO decode must read back out of the pixel grid
    Query("q37_media_features", { (s, dir) =>
      val media = multimodal.Multimodal.synthesizeImages(
        Tables.documentsHeavy(s, dir), "doc_id")
      multimodal.Multimodal.extractFeatures(media)
        .toDF()
        .select("media_id", "kind", "width", "height", "duration_ms")
        .orderBy("media_id")
    }, oracle = _ => """SELECT doc_id AS media_id, 'image' AS kind,
        |  CAST(4 + doc_id % 29 AS INTEGER) AS width,
        |  CAST(4 + doc_id % 31 AS INTEGER) AS height,
        |  CAST(0 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin),
    // ---- multimodal: REAL animated-GIF "video" blobs (frame count, dims
    // and per-frame delay keyed by media_id at encode time) -> REAL
    // container probe + per-frame pixel decode. Every emitted column is a
    // decode result the oracle predicts by formula; the pixel checksums
    // (witnessing the actual raster reads) are spec-verified instead,
    // since no SQL engine can re-derive them ----
    // q38's blobs are real multi-frame GIFs: frame count 2+id%7, frame grid
    // (4+id%13)×(4+id%11), 100 ms per-frame delay — so the container probe
    // and every per-frame decode must read these values back by formula
    Query("q38_frame_samples", { (s, dir) =>
      val media = multimodal.Multimodal.synthesizeVideos(
        Tables.documents(s, dir).filter(col("doc_id") < 100), "doc_id")
      multimodal.Multimodal.sampleFrames(media, 8)
        .select("media_id", "frame_idx", "n_frames", "width", "height", "duration_ms")
        .orderBy("media_id", "frame_idx")
    }, oracle = _ => """WITH v AS (SELECT doc_id, 2 + doc_id % 7 AS nf FROM documents WHERE doc_id < 100)
        |SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
        |  CAST(nf AS INTEGER) AS n_frames,
        |  CAST(4 + doc_id % 13 AS INTEGER) AS width,
        |  CAST(4 + doc_id % 11 AS INTEGER) AS height,
        |  CAST(nf * 100 AS BIGINT) AS duration_ms
        |FROM v, UNNEST(range(nf)) AS u(i)
        |ORDER BY media_id, frame_idx""".stripMargin),
    // ---- multimodal: REAL WAV blobs (PCM length keyed by media_id at
    // encode time) -> REAL javax.sound.sampled parse; the decoded duration
    // must read back the encode-side formula from the container header ----
    // q58's blobs are real RIFF/WAVE PCM: 100+25·(id%48) ms at 8 kHz — the
    // parsed frame count over the header frame rate must return exactly that
    Query("q58_audio_features", { (s, dir) =>
      val media = multimodal.Multimodal.synthesizeAudio(
        Tables.documents(s, dir).filter(col("doc_id") < 200), "doc_id")
      multimodal.Multimodal.extractFeatures(media)
        .toDF()
        .select("media_id", "kind", "width", "height", "duration_ms")
        .orderBy("media_id")
    }, oracle = _ => """SELECT doc_id AS media_id, 'audio' AS kind,
        |  CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height,
        |  CAST(100 + 25 * (doc_id % 48) AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id < 200 ORDER BY media_id""".stripMargin),
    // ---- S1 ORC flavor: BASELINE's storage contract says Parquet/ORC —
    // write an events slice as ORC, read it back with a DECLARED schema
    // and a predicate (pushed into the ORC scan, plan-asserted), oracled
    // against the same-data parquet twin: DuckDB cannot read ORC, so
    // hash-equality to the parquet-backed oracle closes the round-trip ----
    // q61: the oracle is the parquet twin of the ORC fixture's source
    // slice — equality proves the ORC write+read round trip is lossless
    Query("q61_orc_lake", { (s, dir) =>
      import org.apache.spark.sql.types._
      val fixture = Fixture.path(dir, "orc_events")
      val src = Tables.events(s, dir)
        .filter(col("event_id") < 2000)
        .select("event_id", "user_id", "event_type", "value")
      // write the ORC fixture only when the stamp says the on-disk copy
      // came from different data, so the timed body is the READ path (write
      // coverage lives in SourceFormatsSpec's S9 round-trip). The stamp also
      // records the SLICE DEFINITION (predicate + projected columns +
      // format) — those live in code, so a data fingerprint alone would keep
      // serving the old layout after an edit here changed what the fixture
      // should contain (round-6 #8)
      Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "events",
          "slice=event_id<2000;cols=event_id,user_id,event_type,value;fmt=orc")) {
        src.write.mode("overwrite").format("orc").save(fixture)
      }
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      s.read.format("orc").schema(schema).load(fixture)
        .where(col("event_type") === "click" && col("event_id") < 1000)
        .orderBy("event_id")
    }, oracle = _ => """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type = 'click' AND event_id < 1000
        |ORDER BY event_id""".stripMargin),
    // ---- S1 partitioned-lake flavor: the date-partitioned layout a
    // production lake uses (reference globs partition paths by hand,
    // bigdata-project/src/spark_batch_v2.py:33 — here the predicate API
    // prunes via Catalyst PartitionFilters, plan-asserted to exactly one
    // selected directory). The fixture is the events table re-laid-out as
    // event_date=YYYY-MM-DD directories (30 of them), stamped write-once
    // like q61 so the benched body is the pruned READ, not the lake build;
    // the DuckDB oracle reads the same lake through hive partitioning ----
    // q65: the expectation is derived INDEPENDENTLY from the source events
    // table (round-6 advice: an oracle that reads the Spark-written lake
    // would reproduce a fixture-build bug — wrong partition values, dropped
    // rows — and pass). Spark reads the lake through the pruned scan, DuckDB
    // recomputes the partition's rows from source, so equality closes the
    // partitioned write + pruned read round trip end-to-end: any defect in
    // the fixture build now FAILS the gate instead of matching itself.
    // CAST(naive ts AS DATE) ≡ Spark's to_date under the UTC session TZ.
    Query("q65_lake_partition_scan", { (s, dir) =>
      val fixture = Fixture.path(dir, "lake_events")
      val src = Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .select("event_id", "user_id", "event_type", "value", "event_date")
      // stamp = data fingerprint + the code-resident layout definition
      // (projection + partition column + format), same rationale as q61's
      Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "events",
          "slice=cols=event_id,user_id,event_type,value;part=event_date;fmt=parquet")) {
        src.write.mode("overwrite").partitionBy("event_date").parquet(fixture)
      }
      sinks.Sinks.readLakePartition(s, fixture, "event_date", "2024-01-15")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    }, oracle = _ => """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |ORDER BY event_id""".stripMargin),
    // ---- lake COMPACTION (the small-file antidote): the fixture is the
    // events lake deliberately fragmented (repartition(40) before the
    // partitioned write → 40 small files per date directory — the layout a
    // streaming trigger leaves after a day of micro-batches, reference's
    // 50-record flushes at kafka_to_minio.py:63-75). The benched body IS
    // the operator: compact one date partition into target-sized files
    // (crash-safe two-rename swap, idempotent on re-run) and read it back.
    // The oracle recomputes the partition's rows INDEPENDENTLY from the
    // source events table, q65-style, so equality proves the compaction
    // preserved content exactly; the file-count + crash-safety claims live
    // in SinksSpec ----
    // q71: same independent-derivation contract as q65 — DuckDB recomputes
    // the compacted partition's rows from source, so equality proves the
    // fragmented write + compaction rewrite + pruned read lost nothing
    Query("q71_lake_compaction", { (s, dir) =>
      val fixture = Fixture.path(dir, "frag_lake")
      val src = Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .select("event_id", "user_id", "event_type", "value", "event_date")
      // scratch-v2: pre-v2 fixtures were compacted IN PLACE by the first
      // run (the advice finding) — the marker forces one rebuild so the
      // on-disk fixture is actually 40-file fragmented again
      Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "events",
          "slice=cols=event_id,user_id,event_type,value;part=event_date;frag=40", "scratch-v2")) {
        src.repartition(40)
          .write.mode("overwrite").partitionBy("event_date").parquet(fixture)
      }
      // The timed body compacts a SCRATCH copy of the fragmented partition,
      // re-made every run (round-7 advice: compacting the stamped fixture
      // in place defragmented it permanently after the first pass — the
      // stamp still matched, so every later run timed compacting an
      // already-compact partition). The copy keeps the fixture's 40-file
      // pathology the stamp claims, so both bench passes and later
      // sessions all pay the real small-file work.
      val scratch = Fixture.path(dir, "frag_lake_scratch")
      val fsys = graft.functions.IndexProtocol.fileSystem(s, scratch)
      fsys.delete(new org.apache.hadoop.fs.Path(scratch), true)
      org.apache.hadoop.fs.FileUtil.copy(
        fsys, new org.apache.hadoop.fs.Path(s"$fixture/event_date=2024-01-16"),
        fsys, new org.apache.hadoop.fs.Path(s"$scratch/event_date=2024-01-16"),
        false, s.sparkContext.hadoopConfiguration)
      sinks.Sinks.compactLakePartition(
        s, scratch, "event_date", "2024-01-16", targetRecordsPerFile = 500000L)
      sinks.Sinks.readLakePartition(s, scratch, "event_date", "2024-01-16")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    }, oracle = _ => """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE CAST(ts AS DATE) = DATE '2024-01-16'
        |ORDER BY event_id""".stripMargin),
    // ---- SCHEMA-EVOLUTION read (SURVEY §4.1.6, the reference's declared
    // v1/v2 drift made first-class): generation 1 writes `min_salary` as a
    // STRING, generation 2 renames it `salary_min` as a DOUBLE and adds a
    // `source` column. The evolved read surfaces the union of fields
    // (mergeSchema null-fills gen-1's missing columns) and coalesceEvolved
    // folds the renamed+retyped family into ONE declared double via
    // try_cast. Oracled INDEPENDENTLY from the source events table (the
    // q65/q71 contract: a fixture-build defect fails the gate) — the
    // string→double round trip is exact in both engines because shortest-
    // representation double rendering round-trips by construction ----
    // q72: the drift + normalization restated independently from source —
    // v1 rows pass through a string round trip (exact for shortest-repr
    // doubles in both engines), v2 rows carry the double straight through
    Query("q72_schema_evolution", { (s, dir) =>
      val fixture = Fixture.path(dir, "evolved_lake")
      val ev = Tables.events(s, dir)
      Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "events",
          "slice=v1:eid%3=0(min_salary:str);v2:eid%3=1(salary_min:dbl,source)")) {
        ev.filter(col("event_id") % 3 === 0)
          .select(col("event_id").as("job_id"),
            col("value").cast("string").as("min_salary"),
            col("event_type").as("location"))
          .write.mode("overwrite").parquet(s"$fixture/gen=1")
        ev.filter(col("event_id") % 3 === 1)
          .select(col("event_id").as("job_id"),
            col("value").as("salary_min"),
            col("event_type").as("location"),
            lit("v2").as("source"))
          .write.mode("overwrite").parquet(s"$fixture/gen=2")
      }
      val merged = sources.SchemaEvolution.readMergedLake(s, fixture)
      sources.SchemaEvolution
        .coalesceEvolved(merged, "salary_usd", "DOUBLE", Seq("salary_min", "min_salary"))
        .select(
          col("job_id"),
          col("salary_usd"),
          col("location"),
          coalesce(col("source"), lit("v1")).as("source"))
        .orderBy("job_id")
    }, oracle = _ => """SELECT job_id, salary_usd, location, source FROM (
        |  SELECT event_id AS job_id,
        |    TRY_CAST(CAST(value AS VARCHAR) AS DOUBLE) AS salary_usd,
        |    event_type AS location, 'v1' AS source
        |  FROM events WHERE event_id % 3 = 0
        |  UNION ALL
        |  SELECT event_id, value, event_type, 'v2'
        |  FROM events WHERE event_id % 3 = 1)
        |ORDER BY job_id""".stripMargin),
    // ---- the reference's raw-lake format end to end: JSON-array files
    // (<= 50 records per array object, the archiver's layout) written,
    // then batch-read with a DECLARED schema and multiLine parsing —
    // the S1 JSON flavor. The fixture lands under target/ so the DuckDB
    // oracle reads the very same files with read_json ----
    Query("q47_json_raw_lake", { (s, dir) =>
      import org.apache.spark.sql.types._
      val fixture = Fixture.path(dir, "json_events")
      val src = Tables.events(s, dir)
        .filter(col("event_id") < 1000)
        .select("event_id", "user_id", "event_type", "value", "props")
      sources.JsonLake.writeArrayLake(src, "event_id", 50, fixture)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType)))
      sources.JsonLake.readArrayLake(s, fixture, schema)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          length(col("props")).as("props_len"))
        .orderBy("event_id")
    }, oracle = dir => s"""SELECT event_id, user_id, event_type, value, CAST(length(props) AS INTEGER) AS props_len
         |FROM read_json('${Fixture.path(dir, "json_events")}/chunk=*/*.txt', format='array',
         |  columns={event_id:'BIGINT', user_id:'BIGINT', event_type:'VARCHAR', value:'DOUBLE', props:'VARCHAR'})
         |ORDER BY event_id""".stripMargin),
    // ---- LLM-pipeline: HTML → text extraction (the web-crawl WET step).
    // Markup is INJECTED deterministically around the corpus text — three
    // wrapper shapes by doc_id: full page with script+style payloads,
    // inline tags with entities, and a no-markup control — and the
    // extraction chain (drop script/style, strip tags, decode entities,
    // collapse whitespace) is the SAME constant sequence in the Spark
    // column and the generated oracle SQL (q68/q76 contract) ----
    // q106: identical injected wrappers; the extraction chain is
    // GENERATED from Html's constants (Html.extractTextSql), so the two
    // engines run the same replace sequence
    Query("q106_html_extract", { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.Html.extractText(htmlWrapped(col("doc_id"), col("text"))).as("clean_text"))
        .withColumn("n_chars", length(col("clean_text")).cast("long"))
        .orderBy("doc_id")
    }, oracle = _ => {
      val wrapped = htmlWrappedSql
      s"""SELECT doc_id,
         |  ${graft.functions.Html.extractTextSql(s"($wrapped)")} AS clean_text,
         |  CAST(length(${graft.functions.Html.extractTextSql(s"($wrapped)")}) AS BIGINT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    // ---- S1 source matrix: CSV lake with a DECLARED schema and routed
    // malformed rows (round-12 verdict #5 — the one mainstream lake
    // format the matrix lacked). The gate's subject is the malformed-row
    // CONTRACT: Spark PERMISSIVE's corrupt-record set must equal DuckDB
    // ignore_errors' drop set over the same injected type-invalid /
    // short / extra-field lines, so the well-formed projection below
    // hash-matches DuckDB reading the same raw files directly (no
    // parquet twin — the CSV itself is the shared artifact) ----
    // q112: DuckDB reads the SAME raw CSV part files with the declared
    // column types; ignore_errors drops exactly the rows Spark PERMISSIVE
    // marked corrupt (type-invalid, short, extra-field — the prototyped
    // shared contract), so the two engines see the same well-formed set
    Query("q112_csv_lake", { (s, dir) =>
      val fixture = ensureCsvLake(s, dir)
      graft.sources.CsvLake.wellFormed(
        graft.sources.CsvLake.read(s, s"$fixture/csv", CsvLakeSchema))
        .orderBy("id")
    }, oracle = dir => s"""SELECT id, name, metric, flag
         |FROM read_csv('${Fixture.path(dir, "csv_lake")}/csv/part-*',
         |  columns={'id':'BIGINT','name':'VARCHAR','metric':'BIGINT','flag':'VARCHAR'},
         |  header=false, ignore_errors=true)
         |ORDER BY id""".stripMargin,
      fixtures = Seq(CsvFixture)),
    // ---- S1 source matrix: WARC container read (round-12 verdict #8) —
    // the crawl→text chain's missing front: binary record-boundary
    // parsing (offset scan, header parse, Content-Length body slice,
    // trailer check) with quarantine+resync for malformed records, then
    // the q106 HTML extraction over the parsed bodies — raw crawl
    // container to clean training text in one plan, no shuffle before
    // the presentation sort. Half the fixture containers are plain WARC
    // and half per-record-gzip .warc.gz (the Common Crawl transport),
    // consumed by ONE read. Every output column is a PARSE result the
    // oracle predicts by the encode-side formula (the q37/q58
    // discipline); the %31==7 docs carry a wrong declared length and
    // must be quarantined out of this result ----
    // q113: every parsed column re-derived from the encode-side formulas
    // (uri, Content-Length = byte length of the wrapped body, extraction
    // chain over the same wrapper); the wrong-length docs (%31==7) are
    // the quarantine battery and must be absent here
    Query("q113_warc_extract", { (s, dir) =>
      val fixture = ensureWarcFixture(s, dir)
      val rows = graft.sources.Warc.records(
        graft.sources.Warc.read(s, s"$fixture/warc"))
      orderedOnce(
        rows.select(
            regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1)
              .cast("long").as("doc_id"),
            col("target_uri"), col("content_length"),
            graft.functions.Html.extractText(col("body")).as("clean_text"))
          .withColumn("n_chars", length(col("clean_text")).cast("long")),
        "doc_id")
    }, oracle = _ => {
      val wrapped = htmlWrappedSql
      s"""SELECT doc_id,
         |  'https://site' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/p/'
         |    || CAST(doc_id AS VARCHAR) AS target_uri,
         |  CAST(octet_length(encode(($wrapped))) AS BIGINT) AS content_length,
         |  ${graft.functions.Html.extractTextSql(s"($wrapped)")} AS clean_text,
         |  CAST(length(${graft.functions.Html.extractTextSql(s"($wrapped)")}) AS BIGINT) AS n_chars
         |FROM documents
         |WHERE doc_id % 31 <> 7
         |ORDER BY doc_id""".stripMargin
    }, fixtures = Seq(WarcFixture)),
    // ---- snapshot-isolated lake read (round-13 verdict #1): the reader
    // pins a MANIFEST — a complete file listing published by one atomic
    // rename — and reads exactly those immutable files, so concurrent
    // compaction/append/vacuum can never show it a half-swapped
    // partition. The fixture runs the whole maintenance timeline (two
    // appends, the pin, a full compaction that rewrites every file, a
    // post-pin append, a vacuum); the gate reads the PINNED generation
    // afterwards and must be row-identical to the pre-compaction state,
    // which the oracle re-derives from the base table ----
    // q115: the pinned snapshot is generations 0+1 — the even docs plus
    // the %4==1 quarter — regardless of the compaction, append and
    // vacuum that ran after the pin; pure predicate over the base table
    Query("q115_snapshot_read", { (s, dir) =>
      val fixture = ensureSnapshotLake(s, dir)
      graft.sinks.SnapshotLake.read(s,
          graft.sinks.SnapshotLake.pin(s, s"$fixture/tbl", generation = 1L))
        .orderBy("doc_id")
    }, oracle = _ => s"""SELECT doc_id, lang, source, n_chars
         |FROM documents
         |WHERE doc_id % 2 = 0 OR doc_id % 4 = 1
         |ORDER BY doc_id""".stripMargin,
      fixtures = Seq(SnapshotFixture))
  )
}
