package graft
package registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{Bm25, Dedup, ExactAgg, Text}
import graft.ops.Cleaning
import graft.sources.{Bucketing, Tables}

/** Dedup, decontamination and retrieval registry queries: exact, MinHash,
  * SimHash and winnowing dedup, the fingerprint, band, eval and span
  * indexes, and the BM25 indexes behind retrieval and retrieval-based
  * decontamination.
  */
object DedupQueries {

  /** Stamped build of the q69 fingerprint-index fixture: gen 0 over the
    * even-doc_id history, batch 1's survivors appended as gen 1. Extracted
    * from the query body so the bench warmup can pre-build it untimed
    * ([[graft.SparkEntry.prebuildFixtures]]) — the benched body is then
    * the pure O(batch) probe both passes.
    */
  private[graft] def ensureFpIndexFixture(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val history = docs.filter(col("doc_id") % 2 === 0)
    val batch1 = docs.filter(col("doc_id") % 4 === 1).select("doc_id", "text")
    val fixture = Fixture.path(dir, "fp_index")
    Fixture.ensure(s, fixture,
        Fixture.sourceStamp(s, dir, "documents", Dedup.FingerprintIndexVersion)) {
      Dedup.writeFingerprintIndex(history, fixture)
      val accepted1 = Dedup.dedupAgainstFingerprintIndex(s, fixture, batch1)
      Dedup.appendFingerprintIndex(accepted1, fixture, generation = 1L)
    }
  }

  /** Stamped build of the q78 MinHash band-index fixture (gen 0 over
    * history + gen 1 appended survivors) — the near-dup sibling of
    * [[ensureFpIndexFixture]], same warmup motivation: the r8 bench billed
    * the 83.6 s one-time index build to q78's first pass.
    */
  private[graft] def ensureBandIndexFixture(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val history = docs.filter(col("doc_id") % 2 === 0)
    val batch1 = docs.filter(col("doc_id") % 4 === 1).select("doc_id", "text")
    val fixture = Fixture.path(dir, "band_index")
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents",
        Dedup.BandIndexVersion, s"h=$BandIdxHashes", s"b=$BandIdxBands",
        s"seed=$BandIdxSeed", s"minj=$BandIdxMinJ", s"cap=$BandIdxCap", "append-v1")) {
      Dedup.writeBandIndex(history, fixture,
        nHashes = BandIdxHashes, nBands = BandIdxBands, seed = BandIdxSeed)
      val accepted1 = Dedup.dedupAgainstBandIndex(s, fixture, batch1,
        nHashes = BandIdxHashes, nBands = BandIdxBands,
        minEstJaccard = BandIdxMinJ, seed = BandIdxSeed,
        maxBandCollisions = BandIdxCap)
      Dedup.appendBandIndex(accepted1.select("doc_id", "text"), fixture, generation = 1L,
        nHashes = BandIdxHashes, nBands = BandIdxBands, seed = BandIdxSeed)
    }
  }

  /** Stamped build of the q82 eval-decontamination-index fixture: the
    * doc_id % 20 == 7 slice of `documents` indexed as eval generation 0 and
    * the % 20 == 8 slice appended as generation 1 — two benchmark suites on
    * the blocklist, exercising both install and append. Winnowing geometry
    * is the (k=3, w=4) default, the same geometry q54/q55's oracle CTE
    * reproduces.
    */
  private[graft] def ensureEvalIndexFixture(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "eval_index")
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents",
        Dedup.EvalIndexVersion, "k=3", "w=4", "append-v1")) {
      Dedup.writeEvalIndex(docs.filter(col("doc_id") % 20 === 7), fixture)
      Dedup.appendEvalIndex(docs.filter(col("doc_id") % 20 === 8), fixture, generation = 1L)
    }
  }

  /** Stamped build of the q86 span-count-index fixture: the doc_id % 5 ∈
    * {0,2} slice installed as count generation 0, the % 5 ∈ {3,4} slice
    * appended as generation 1 (together: every non-batch doc), then the
    * hot list refreshed — exercising install, append and refresh. (k=4,
    * minCount=3), the q84 geometry.
    */
  private[graft] def ensureSpanIndexFixture(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "span_index")
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents",
        Dedup.SpanIndexVersion, "k=4", "min=3", "gens-2")) {
      Dedup.writeSpanCountIndex(
        docs.filter(col("doc_id") % 5 === 0 || col("doc_id") % 5 === 2),
        fixture, k = 4, minCount = 3L)
      Dedup.appendSpanCounts(
        docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4),
        fixture, generation = 1L)
      Dedup.refreshHotSpanList(s, fixture)
    }
  }

  /** Stamped build of the q119 BM25 inverted index over the documents
    * corpus ([[Bm25.buildIndex]]). A pure function of (corpus slice,
    * scheme version) — the oracle joins the persisted terms table for
    * idf_e6, so the index path is interpolated into the generated SQL.
    */
  private[graft] def ensureBm25Index(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "bm25")
    Fixture.ensure(s, fixture, bm25IndexStamp(s, dir)) {
      Bm25.buildIndex(docs, "text", "doc_id", s"$fixture/idx")
    }
    s"$fixture/idx"
  }

  /** The q119 index's stamp, also its bucketed layout's identity. */
  private def bm25IndexStamp(s: SparkSession, dir: String): String =
    Fixture.sourceStamp(s, dir, "documents", s"bm=${Bm25.Version}")

  /** Stamped build of the q124 retrieval-decontamination fixture: the q82
    * eval suites (doc_id % 20 ∈ {7, 8}) indexed as a SHINGLE-grade BM25
    * artifact ([[Bm25.buildIndex]] with ngram = 2 — bigram terms
    * discriminate near-verbatim overlap even on the corpus's heavily
    * shared unigram vocabulary; the grade travels in the index layout).
    */
  private[graft] def ensureBm25EvalIndex(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "bm25_eval")
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents",
        s"bm=${Bm25.Version}", "g=2", "eval78")) {
      Bm25.buildIndex(
        docs.filter(col("doc_id") % 20 === 7 || col("doc_id") % 20 === 8),
        "text", "doc_id", s"$fixture/idx", ngram = 2)
    }
    s"$fixture/idx"
  }

  /** Catalog-registered TERM-BUCKETED copy of the q119 index's postings
    * ([[Bucketing.ensureBm25Postings]]) for the q123 bucket-pruned serve.
    * The layout identity is the index fixture's stamp ([[bm25IndexStamp]],
    * hashed into the catalog name) — one source of truth, so anything that
    * rebuilds the index (corpus change, `Bm25.Version` bump) lands a fresh
    * layout instead of a stale catalog hit, and no second full-corpus
    * fingerprint scan runs per serve (the stamp's fingerprint is memoized).
    */
  private[graft] def ensureBm25BucketedPostings(s: SparkSession, dir: String): String = {
    val idx = ensureBm25Index(s, dir)
    val identity =
      s"${Fixture.tag(dir)}_${java.lang.Integer.toHexString(bm25IndexStamp(s, dir).hashCode)}"
    Bucketing.ensureBm25Postings(
      s, s"$idx/postings", s"${Fixture.root}/bucketed", identity)
  }

  /** Stamped build of the q122 INCREMENTAL BM25 index: install generation
    * 0 from the even-doc_id half, append the odd half as generation 1,
    * refresh — the maintenance loop a live corpus actually runs
    * ([[Bm25.installIndex]]/[[Bm25.appendDocs]]/[[Bm25.refreshIndex]]).
    * The union equals the full corpus, so the oracle is q119's
    * re-derivation pointed at THIS artifact's terms table.
    */
  private[graft] def ensureBm25IncIndex(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "bm25_inc")
    Fixture.ensure(s, fixture,
        Fixture.sourceStamp(s, dir, "documents", s"bm=${Bm25.Version}", "inc")) {
      Bm25.installIndex(docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
        s"$fixture/idx")
      Bm25.appendDocs(docs.filter(col("doc_id") % 2 === 1), s"$fixture/idx",
        generation = 1L)
      Bm25.refreshIndex(s, s"$fixture/idx")
    }
    s"$fixture/idx"
  }

  /** Generated DuckDB derivation shared by the q124 decontamination and
    * q127 calibration oracles: the full shingle-BM25 sweep — bigram
    * terms from the eval slices, bag-of-shingles query scoring over the
    * caller-supplied CLEAN population (`cleanSql`, always unioned with
    * the q124 light-edit injection), the exact-integer length norm and
    * the per-shingle normalization — through the `normed` CTE
    * (doc_id, eval_id, score_e6, norm_e6). Only idf_e6 joins from the
    * persisted eval-index artifact (the q119 discipline). One source of
    * truth: the two consumers append different tails but can never
    * disagree on the arithmetic.
    */
  private def shingleBm25NormedSql(dir: String, cleanSql: String): String =
    s"""WITH evals AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 20 IN (7, 8)),
       |train AS (
       |  $cleanSql
       |  UNION ALL
       |  SELECT doc_id + 1000000, 'edited copy ' || text
       |  FROM documents WHERE doc_id % 20 = 7),
       |esp AS (SELECT doc_id, string_split(text, ' ') AS sp FROM evals),
       |eidx AS (SELECT doc_id, unnest(range(1, len(sp))) AS i, sp FROM esp),
       |etoks AS (SELECT doc_id, sp[i] || ' ' || sp[i + 1] AS term FROM eidx),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM etoks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM etoks GROUP BY 1),
       |meta AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS l FROM dl),
       |kd AS (
       |  SELECT doc_id,
       |    CAST(${ExactAgg.Sql.divHalfUp("(3 * l + 9 * dl * n) * 1000000", "10 * l")} AS BIGINT) AS k_e6
       |  FROM dl CROSS JOIN meta),
       |idf AS (SELECT term, idf_e6
       |  FROM read_parquet('${Fixture.path(dir, "bm25_eval")}/idx/terms/*.parquet')),
       |tsp AS (SELECT doc_id, string_split(text, ' ') AS sp FROM train),
       |tidx AS (SELECT doc_id, GREATEST(len(sp) - 1, 0) AS n_sh,
       |    unnest(range(1, len(sp))) AS i, sp FROM tsp),
       |probes AS (
       |  SELECT doc_id AS query_id, CAST(n_sh AS BIGINT) AS n_sh,
       |    sp[i] || ' ' || sp[i + 1] AS term FROM tidx),
       |scored AS (
       |  SELECT p.query_id, p.n_sh, tf.doc_id AS eval_id,
       |    CAST(SUM(CAST(${ExactAgg.Sql.divHalfUp(
             "i.idf_e6 * 22 * tf.tf * 100000", "tf.tf * 1000000 + kd.k_e6")} AS BIGINT)) AS BIGINT) AS score_e6
       |  FROM probes p
       |  JOIN tf ON tf.term = p.term
       |  JOIN idf i ON i.term = p.term
       |  JOIN kd ON kd.doc_id = tf.doc_id
       |  GROUP BY 1, 2, 3),
       |top1 AS (
       |  SELECT query_id, n_sh, eval_id, score_e6
       |  FROM scored
       |  QUALIFY ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY score_e6 DESC, eval_id) = 1),
       |normed AS (
       |  SELECT query_id AS doc_id, eval_id, score_e6,
       |    CAST(${ExactAgg.Sql.divHalfUp("score_e6", "n_sh")} AS BIGINT) AS norm_e6
       |  FROM top1)""".stripMargin

  /** Generated DuckDB oracle for the BM25 retrieval gates (q119/q122):
    * tokenization, tf, dl, the exact-integer length norm, pseudo-query
    * selection and the rational tf-normalization all re-derived from the
    * base table; only idf_e6 joins from `termsPath` — the one persisted
    * transcendental (q101 shared-artifact discipline). Two gates, one
    * SQL: the q122 variant only swaps in the incremental artifact's
    * terms table, which is exactly the claim under test.
    */
  private def bm25RetrievalOracleSql(termsPath: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
       |meta AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS l FROM dl),
       |kd AS (
       |  SELECT doc_id,
       |    CAST(${ExactAgg.Sql.divHalfUp("(3 * l + 9 * dl * n) * 1000000", "10 * l")} AS BIGINT) AS k_e6
       |  FROM dl CROSS JOIN meta),
       |probes AS (
       |  SELECT doc_id AS query_id, term FROM (
       |    SELECT doc_id, term,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS r
       |    FROM tf WHERE doc_id < 8) t
       |  WHERE r <= 3),
       |idf AS (SELECT term, idf_e6
       |  FROM read_parquet('$termsPath/*.parquet')),
       |scored AS (
       |  SELECT p.query_id, tf.doc_id,
       |    CAST(SUM(CAST(${ExactAgg.Sql.divHalfUp(
               "i.idf_e6 * 22 * tf.tf * 100000", "tf.tf * 1000000 + kd.k_e6")} AS BIGINT)) AS BIGINT) AS score_e6
       |  FROM probes p
       |  JOIN tf ON tf.term = p.term
       |  JOIN idf i ON i.term = p.term
       |  JOIN kd ON kd.doc_id = tf.doc_id
       |  GROUP BY 1, 2)
       |SELECT query_id,
       |  CAST(ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY score_e6 DESC, doc_id) AS INTEGER) AS rank,
       |  doc_id, score_e6
       |FROM scored QUALIFY rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** The CTE chain ending in `scored(a_id, b_id, est_jaccard)` — shared by
    * the q26 oracle, the q48 duplicate-cluster oracle and the q53 curation
    * pipeline (which points it at a derived relation instead of the raw
    * documents table).
    */
  private def minhashScoredCte(
      nHashes: Int,
      nBands: Int,
      seed: Long,
      src: String = "documents",
      textCol: String = "text",
      idCol: String = "doc_id",
      maxBandBucket: Int = Int.MaxValue): String = {
    val p = Dedup.minhashP
    val rows = nHashes / nBands
    val minAggs = (0 until nHashes).map { i =>
      val (a, b) = Dedup.minhashCoeffs(i, seed)
      s"MIN((h * $a + $b) % $p) AS m$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until nBands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => s"m$i").mkString(", ")
      s"SELECT id, md5(concat_ws('_', '$b', $cols)) AS band FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    // parenthesize in chunks of 16: a flat 128-term `+` chain left-associates
    // into a 128-deep expression tree and trips DuckDB's binder recursion cap
    val agree = (0 until nHashes)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .grouped(16).map(_.mkString("(", " + ", ")")).mkString(" + ")
    // Mirror of minhashCandidates' hot-bucket cap: buckets above the cap are
    // excluded from pair generation (same CTE shape as the q29 LSH oracle).
    val pairSrc =
      if (maxBandBucket == Int.MaxValue) "banded"
      else s"""(SELECT banded.* FROM banded
              |   JOIN (SELECT band FROM banded GROUP BY band
              |         HAVING COUNT(*) <= $maxBandBucket) okb USING (band))""".stripMargin
    s"""toks AS (
       |  SELECT $idCol AS id, unnest(list_distinct(string_split($textCol, ' '))) AS tok FROM $src),
       |hashed AS (
       |  SELECT id, CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) % $p AS h FROM toks),
       |sig AS (
       |  SELECT id,
       |    $minAggs
       |  FROM hashed GROUP BY id),
       |banded AS (
       |  $bandSelects),
       |pairs AS (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
       |  FROM $pairSrc a JOIN $pairSrc b ON b.band = a.band AND a.id < b.id),
       |scored AS (
       |  SELECT p.a_id, p.b_id, ROUND(CAST(($agree) AS DOUBLE) / $nHashes, 4) AS est_jaccard
       |  FROM pairs p JOIN sig sa ON sa.id = p.a_id JOIN sig sb ON sb.id = p.b_id)""".stripMargin
  }

  /** Generated DuckDB oracle for q26: the full MinHash/LSH pipeline in SQL —
    * same md5-derived token hashes (`0x`-hex cast ≡ Spark's `conv(_,16,10)`),
    * same permutation constants from [[Dedup.minhashCoeffs]], same band md5
    * keys and agreement count. Everything is integer arithmetic except the
    * final est_jaccard = agree/128, a dyadic rational both engines round
    * identically.
    */
  private def minhashOracleSql(
      nHashes: Int, nBands: Int, seed: Long,
      src: String = "documents"): String =
    s"""WITH ${minhashScoredCte(nHashes, nBands, seed, src = src)}
       |SELECT a_id, b_id, est_jaccard FROM scored WHERE est_jaccard >= 0.9
       |ORDER BY a_id, b_id""".stripMargin

  /** q48 oracle: the q26 candidate pairs, transitively closed with a
    * recursive CTE; min reachable id per node = the cluster representative.
    */
  private def dupClustersOracleSql(nHashes: Int, nBands: Int, seed: Long): String =
    s"""WITH RECURSIVE ${minhashScoredCte(nHashes, nBands, seed)},
       |cand AS (SELECT a_id, b_id FROM scored WHERE est_jaccard >= 0.9),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM cand
       |  UNION
       |  SELECT b_id AS src, a_id AS dst FROM cand),
       |reach(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.l FROM edges e JOIN reach r ON r.id = e.dst)
       |SELECT id AS doc_id, CAST(MIN(l) AS BIGINT) AS rep
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Generated DuckDB oracle for q27: per-bit ±1 votes over distinct-token
    * hashes, mirroring [[Dedup.simhashSignatures]] in pure integer SQL.
    */
  private def simhashOracleSql(nBits: Int): String = {
    val votes = (0 until nBits)
      .map(b => s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n    ")
    val fp = (0 until nBits)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
       |hashed AS (
       |  SELECT doc_id, CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM hashed GROUP BY doc_id)
       |SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes ORDER BY doc_id""".stripMargin
  }

  /** Band-index hyperparameters (q78). 8 bands × 8 rows targets an LSH
    * match threshold of (1/8)^(1/8) ≈ 0.77 — finer than q26's 4 × 16
    * (≈0.92) so one-token near-replays of median-25-distinct-token docs
    * (j ≈ 0.96) collide with near-certainty. Part of the index fixture's
    * identity → folded into the stamp.
    */
  private[graft] val BandIdxHashes = 64
  private[graft] val BandIdxBands = 8
  private[graft] val BandIdxSeed = 42L
  private[graft] val BandIdxMinJ = 0.85
  private[graft] val BandIdxCap = 200

  /** Generated DuckDB oracle for q78: both index generations' acceptance
    * restated independently from TEXT — signatures and band keys recomputed
    * with the exact q26 SQL machinery (same md5-derived hashes, same
    * [[Dedup.minhashCoeffs]] constants, same band md5s, same chunked
    * agreement sum), then generation 1 = batch-1 ids minus band-collision
    * pairs against history with est ≥ minJ, and the output = batch-2 ids
    * minus the same construction against (history ∪ generation 1). The
    * hot-band cap mirrors as HAVING COUNT(*) ≤ cap on the index side of
    * each probe (equivalent to the engine's collision-set count: a
    * LEFT SEMI keeps every index row of a colliding band).
    */
  private def bandIndexOracleSql(
      nHashes: Int, nBands: Int, seed: Long, minJ: Double, cap: Int): String = {
    val p = Dedup.minhashP
    val rows = nHashes / nBands
    val minAggs = (0 until nHashes).map { i =>
      val (a, b) = Dedup.minhashCoeffs(i, seed)
      s"MIN((h * $a + $b) % $p) AS m$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until nBands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => s"m$i").mkString(", ")
      s"SELECT id, md5(concat_ws('_', '$b', $cols)) AS band FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val agree = (0 until nHashes)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .grouped(16).map(_.mkString("(", " + ", ")")).mkString(" + ")
    s"""WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
       |b2 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
       |  UNION ALL
       |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 20 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000, text || ' qq' FROM documents WHERE doc_id % 20 = 2
       |  UNION ALL
       |  SELECT doc_id + 4000000, text || ' qq' FROM documents WHERE doc_id % 20 = 1),
       |alldocs AS (
       |  SELECT doc_id, text FROM hist
       |  UNION ALL SELECT doc_id, text FROM b1
       |  UNION ALL SELECT doc_id, text FROM b2),
       |toks AS (
       |  SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM alldocs),
       |hashed AS (
       |  SELECT id, CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) % $p AS h FROM toks),
       |sig AS (
       |  SELECT id,
       |    $minAggs
       |  FROM hashed GROUP BY id),
       |banded AS (
       |  $bandSelects),
       |hb1 AS (SELECT b.* FROM banded b JOIN hist h ON h.doc_id = b.id),
       |okb1 AS (SELECT band FROM hb1 GROUP BY band HAVING COUNT(*) <= $cap),
       |near1 AS (
       |  SELECT DISTINCT p.b_id FROM (
       |    SELECT DISTINCT bb.id AS b_id, hb.id AS h_id
       |    FROM banded bb
       |    JOIN b1 x ON x.doc_id = bb.id
       |    JOIN hb1 hb ON hb.band = bb.band
       |    JOIN okb1 ok ON ok.band = hb.band) p
       |  JOIN sig sa ON sa.id = p.b_id JOIN sig sb ON sb.id = p.h_id
       |  WHERE ROUND(CAST(($agree) AS DOUBLE) / $nHashes, 4) >= $minJ),
       |acc1 AS (
       |  SELECT doc_id FROM b1
       |  WHERE NOT EXISTS (SELECT 1 FROM near1 n WHERE n.b_id = b1.doc_id)),
       |idx2 AS (SELECT doc_id FROM hist UNION ALL SELECT doc_id FROM acc1),
       |hb2 AS (SELECT b.* FROM banded b JOIN idx2 i ON i.doc_id = b.id),
       |okb2 AS (SELECT band FROM hb2 GROUP BY band HAVING COUNT(*) <= $cap),
       |near2 AS (
       |  SELECT DISTINCT p.b_id FROM (
       |    SELECT DISTINCT bb.id AS b_id, hb.id AS h_id
       |    FROM banded bb
       |    JOIN b2 x ON x.doc_id = bb.id
       |    JOIN hb2 hb ON hb.band = bb.band
       |    JOIN okb2 ok ON ok.band = hb.band) p
       |  JOIN sig sa ON sa.id = p.b_id JOIN sig sb ON sb.id = p.h_id
       |  WHERE ROUND(CAST(($agree) AS DOUBLE) / $nHashes, 4) >= $minJ)
       |SELECT doc_id FROM b2
       |WHERE NOT EXISTS (SELECT 1 FROM near2 n WHERE n.b_id = b2.doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** q53's production posture: a FINITE band-bucket cap. Exact dedup runs
    * before MinHash in the curation pipeline, so any remaining band bucket
    * above this size is boilerplate near-dup mass whose b(b−1)/2 pair
    * explosion LSH exists to avoid; the exhaustive-pairs contract stays on
    * q26/q48, which keep the uncapped default. One constant feeds both the
    * Spark call and the generated oracle, so they cannot drift.
    */
  private val curationMaxBandBucket = 200

  /** q53 oracle: the curation pipeline composed from the stages' own SQL —
    * the q41 scrub regexes, the q21 quality bounds, the q20 fingerprint
    * dedup, the q26/q48 MinHash-CC chain re-pointed at the deduped
    * relation, and the q49 split bucket.
    */
  private def curationOracleSql(nHashes: Int, nBands: Int, seed: Long): String = {
    val scrub =
      """trim(regexp_replace(regexp_replace(regexp_replace(text,
        |    'https?://[^ ]+', '', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '', 'g'),
        |    '  +', ' ', 'g'))""".stripMargin
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id, $scrub AS stext FROM documents),
       |quality AS (
       |  SELECT doc_id, stext FROM base
       |  WHERE len(string_split(stext, ' ')) BETWEEN 5 AND 5000),
       |ex AS (
       |  SELECT doc_id, stext FROM (
       |    SELECT doc_id, stext,
       |      ROW_NUMBER() OVER (PARTITION BY md5(stext) ORDER BY doc_id) AS rn
       |    FROM quality) t
       |  WHERE rn = 1),
       |${minhashScoredCte(nHashes, nBands, seed, src = "ex", textCol = "stext",
            maxBandBucket = curationMaxBandBucket)},
       |cand AS (SELECT a_id, b_id FROM scored WHERE est_jaccard >= 0.9),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM cand
       |  UNION
       |  SELECT b_id AS src, a_id AS dst FROM cand),
       |reach(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.l FROM edges e JOIN reach r ON r.id = e.dst),
       |reps AS (SELECT id, MIN(l) AS rep FROM reach GROUP BY id),
       |kept AS (
       |  SELECT e.doc_id, e.stext FROM ex e
       |  LEFT JOIN reps r ON r.id = e.doc_id
       |  WHERE r.rep IS NULL OR r.rep = e.doc_id)
       |SELECT
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       |  COUNT(*) AS cnt, CAST(SUM(length(stext)) AS BIGINT) AS sum_chars
       |FROM (
       |  SELECT stext,
       |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
       |  FROM kept) t
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // The stamped fixtures this family's queries read.
  private val FpIndexFixture = Prebuild("fp_index", ensureFpIndexFixture)
  private val BandIndexFixture = Prebuild("band_index", ensureBandIndexFixture)
  private val EvalIndexFixture = Prebuild("eval_index", ensureEvalIndexFixture)
  private val SpanIndexFixture = Prebuild("span_index", ensureSpanIndexFixture)
  private val Bm25Fixture = Prebuild("bm25", ensureBm25Index)
  private val Bm25PostingsFixture = Prebuild("bm25_postings", ensureBm25BucketedPostings)
  private val Bm25IncFixture = Prebuild("bm25_inc", ensureBm25IncIndex)
  private val Bm25EvalFixture = Prebuild("bm25_eval", ensureBm25EvalIndex)

  /** This family's registry records: builder, oracle and fixtures. */
  def records: Seq[Query] = Seq(
    // ---- LLM-pipeline: exact dedup groups ----
    Query("q20_dedup_exact", { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir)).orderBy("fp")
    }, oracle = _ => """SELECT md5(text) AS fp, MIN(doc_id) AS rep_id, COUNT(*) AS dup_cnt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- LLM-pipeline: pairwise token-set Jaccard (verification metric) ----
    Query("q25_jaccard_pairs", { (s, dir) =>
      val d = Tables.documents(s, dir)
      val a = d.select(col("doc_id").as("a_id"), col("text").as("a_text"))
      val b = d.select(col("doc_id").as("b_id"), col("text").as("b_text"))
      a.join(b, col("b_id") === col("a_id") + 1)
        .select(col("a_id"), col("b_id"),
          round(Dedup.jaccardTokens(col("a_text"), col("b_text")), 4).as("jaccard"))
        .orderBy("a_id")
    }, oracle = _ => """WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 1),
        |inter AS (
        |  SELECT ta.doc_id AS a_id, tb.doc_id AS b_id, COUNT(*) AS i
        |  FROM toks ta JOIN toks tb ON tb.doc_id = ta.doc_id + 1 AND ta.tok = tb.tok
        |  GROUP BY 1, 2)
        |SELECT p.a_id, p.b_id,
        |  ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(i.i, 0)), 4) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.a_id
        |JOIN sizes sb ON sb.doc_id = p.b_id
        |LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
        |ORDER BY p.a_id""".stripMargin),
    // ---- LLM-pipeline: MinHash/LSH near-dup candidates (oracled via generated SQL) ----
    Query("q26_minhash_pairs", { (s, dir) =>
      // all-pairs ORACLE GATE (q57/q78 are the O(batch) production
      // siblings — standing adjudication); gates on a deterministic
      // half-slice: the full 64-hash/4-band pipeline is exercised
      // identically, at half the signature cost and a quarter of the
      // band-collision candidates (round-11 verdict #9)
      // Fan the filtered half-corpus out before the signature bank (the
      // same per-row-heavy class as q48/q53's documentsHeavy, r18): filter
      // FIRST so the round-robin exchange moves only the gated half.
      Dedup.minhashCandidates(
        Tables.fanOutIfTiny(s,
          Tables.documents(s, dir).filter(col("doc_id") % 2 === 0),
          s"$dir/documents.parquet"))
        .orderBy("a_id", "b_id")
    }, oracle = _ => minhashOracleSql(nHashes = 64, nBands = 4, seed = 42L,
      src = "(SELECT * FROM documents WHERE doc_id % 2 = 0)")),
    // ---- LLM-pipeline: SimHash fingerprints (native per-row expression) ----
    Query("q27_simhash", { (s, dir) =>
      Dedup.simhashSignatures(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")
    }, oracle = _ => simhashOracleSql(nBits = 60)),
    // ---- LLM-pipeline: collapse near-dup candidates into duplicate
    // clusters (connected components via iterative min-label propagation) ----
    Query("q48_dup_clusters", { (s, dir) =>
      val pairs = Dedup.minhashCandidates(Tables.documentsHeavy(s, dir))
      Dedup.duplicateClustersLogN(pairs)
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy("doc_id")
    }, oracle = _ => dupClustersOracleSql(nHashes = 64, nBands = 4, seed = 42L)),
    // ---- LLM-pipeline: n-gram (trigram-set) Jaccard between adjacent
    // docs — the shingle-set verification metric, all-integer e4 output ----
    Query("q52_trigram_jaccard", { (s, dir) =>
      val ng = Text.explodeNgrams(Tables.documents(s, dir), "text", 3)
        .select(col("doc_id"), col("ng")).distinct()
      val sizes = ng.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = ng.select(col("doc_id").as("a_id"), col("ng"))
        .join(ng.select((col("doc_id") - 1).as("a_id"), col("ng")), Seq("a_id", "ng"))
        .groupBy("a_id").agg(count(lit(1)).as("i"))
      val i0 = coalesce(col("i"), lit(0L))
      sizes.select(col("doc_id").as("a_id"), col("n").as("na"))
        .join(sizes.select((col("doc_id") - 1).as("a_id"), col("n").as("nb")), Seq("a_id"))
        .join(inter, Seq("a_id"), "left")
        .select(col("a_id"), (col("a_id") + 1).as("b_id"),
          (ExactAgg.divHalfUp(i0 * 10000, col("na") + col("nb") - i0) / 10000.0)
            .as("jaccard_e4"))
        .orderBy("a_id")
    }, oracle = _ => s"""WITH ng AS (
         |  SELECT DISTINCT doc_id, concat_ws(' ', t[CAST(i AS INT)+1], t[CAST(i AS INT)+2], t[CAST(i AS INT)+3]) AS ng
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
         |       UNNEST(range(len(t) - 2)) AS u(i)),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ng GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, COUNT(*) AS i
         |  FROM ng a JOIN ng b ON b.doc_id = a.doc_id + 1 AND b.ng = a.ng
         |  GROUP BY 1)
         |SELECT sa.doc_id AS a_id, sa.doc_id + 1 AS b_id,
         |  CAST(${ExactAgg.Sql.divHalfUp("COALESCE(i.i, 0) * 10000", "sa.n + sb.n - COALESCE(i.i, 0)")} AS DOUBLE) / 10000.0 AS jaccard_e4
         |FROM sizes sa
         |JOIN sizes sb ON sb.doc_id = sa.doc_id + 1
         |LEFT JOIN inter i ON i.a_id = sa.doc_id
         |ORDER BY a_id""".stripMargin),
    // ---- LLM-pipeline: winnowing (rolling-hash) document fingerprints;
    // per-doc selected-fingerprint count + minimum ----
    Query("q54_winnow_fingerprints", { (s, dir) =>
      Text.winnowFingerprints(Tables.documents(s, dir), "text", "doc_id")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"), min(col("fp")).as("min_fp"))
        .orderBy("doc_id")
    }, oracle = _ => """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) + 1 AS pos,
        |    CAST(concat('0x', substring(md5(
        |      concat_ws(' ', t[CAST(i AS INT)+1], t[CAST(i AS INT)+2], t[CAST(i AS INT)+3])), 1, 15)) AS BIGINT) AS h
        |  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)),
        |fps AS (
        |  SELECT DISTINCT doc_id,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM grams)
        |SELECT doc_id, COUNT(*) AS n_fp, CAST(MIN(fp) AS BIGINT) AS min_fp
        |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // ---- the flagship LLM-data curation pipeline, end to end in ONE
    // declarative composition: scrub → quality gate → exact dedup →
    // near-dup cluster collapse (keep representatives) → deterministic
    // split assignment → per-split corpus stats. Every stage is the
    // already-oracled operator; the oracle composes their SQL ----
    Query("q53_curation_pipeline", { (s, dir) =>
      val base = Tables.documentsHeavy(s, dir)
        .select(col("doc_id"), Text.scrub(col("text")).as("stext"))
      val quality = base.filter(
        Text.qualityBucket(col("stext")).isin("OK_FLUENT", "OK_TERSE"))
      // `exact` feeds BOTH the minhash candidate pipeline and the final
      // `kept` join — persist it so scrub → quality → window-dedup runs
      // once per q53 execution, not once per consuming branch. (Same class
      // of fix as the streaming fan-out's single-execution contract.)
      val exact = Cleaning.dedupByKey(
          quality.withColumn("__fp", Text.fingerprint(col("stext"))),
          Seq("__fp"), Seq(col("doc_id").asc))
        .drop("__fp")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nearDupReps = Dedup.duplicateClustersLogN(
        Dedup.minhashCandidates(exact, "stext", "doc_id",
          maxBandBucket = curationMaxBandBucket))
      val kept = exact
        .join(nearDupReps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .filter(col("rep").isNull || col("rep") === col("doc_id"))
      // NOT orderedOnce: the final agg's exchange sits directly below the
      // presentation sort, so the sampling pass re-reads 3 aggregated rows
      // from shuffle output — measured no-op (PLANS.md r16)
      kept
        .withColumn("split", ops.Sampling.splitLabel(col("doc_id")))
        .groupBy("split")
        .agg(count(lit(1)).as("cnt"), sum(length(col("stext"))).as("sum_chars"))
        .orderBy("split")
    }, oracle = _ => curationOracleSql(nHashes = 64, nBands = 4, seed = 42L)),
    // ---- LLM-pipeline: train→eval decontamination — val/test docs that
    // share a winnowing fingerprint (verbatim ≥6-token run) with the
    // train split, with collision counts. The report a curator acts on
    // before training ----
    // q55: q54's winnowing CTE + q49's split bucket, then the cross-split
    // fingerprint collision join
    Query("q55_decontamination", { (s, dir) =>
      ops.Sampling.contaminationReport(Tables.documentsHeavy(s, dir), "text", "doc_id")
        .orderBy("doc_id")
    }, oracle = _ => """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) + 1 AS pos,
        |    CAST(concat('0x', substring(md5(
        |      concat_ws(' ', t[CAST(i AS INT)+1], t[CAST(i AS INT)+2], t[CAST(i AS INT)+3])), 1, 15)) AS BIGINT) AS h
        |  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)),
        |fps AS (
        |  SELECT DISTINCT doc_id,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM grams),
        |sp AS (
        |  SELECT doc_id, fp,
        |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (
        |    SELECT doc_id, fp,
        |      CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |    FROM fps) z),
        |tr AS (SELECT fp, doc_id AS tid FROM sp WHERE split = 'train')
        |SELECT ev.doc_id, ev.split,
        |  CAST(COUNT(DISTINCT tr.tid) AS BIGINT) AS n_train_docs,
        |  CAST(COUNT(DISTINCT ev.fp) AS BIGINT) AS n_shared_fps
        |FROM sp ev JOIN tr ON tr.fp = ev.fp
        |WHERE ev.split <> 'train'
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    // ---- LLM-pipeline: incremental ingestion dedup — a new batch (fresh
    // docs ∪ replayed copies of already-ingested docs under new ids) is
    // deduplicated against the immutable history corpus by content
    // fingerprint; the replays must drop, history is never rewritten ----
    // q57: fingerprint match ≡ text equality (md5 on both sides), so the
    // oracle states the semantics directly as NOT EXISTS on text
    Query("q57_incremental_dedup", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val history = docs.filter(col("doc_id") % 2 === 0)
      val replayed = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text")
        .unionByName(replayed)
      Dedup.dedupAgainstHistory(history, incoming)
        .select("doc_id")
        .orderBy("doc_id")
    }, oracle = _ => """WITH history AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
        |incoming AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT i.doc_id FROM incoming i
        |WHERE NOT EXISTS (SELECT 1 FROM history h WHERE h.text = i.text)
        |ORDER BY doc_id""".stripMargin),
    // ---- q57's AMORTIZED serving shape (the q67 move applied to dedup):
    // the history corpus's fingerprints persisted ONCE as a 16-byte/doc
    // index, every ingest batch probed against the index — never the
    // history text — and each accepted batch's fps APPENDED so the next
    // batch dedups against them too. The fixture build (stamped write-once
    // like the IVF index) writes the base index, dedups batch 1 and
    // appends its survivors; the benched steady-state body is batch 2's
    // probe: its replays of HISTORY docs drop via the base index, its
    // replays of BATCH-1 docs drop via the appended rows (proving the
    // append participates), and fresh docs survive. The oracle states the
    // same semantics independently as NOT EXISTS over text ----
    // q69: fingerprint-index membership ≡ text membership (md5 is
    // injective on this corpus as q57 establishes), so the oracle states
    // the two-generation semantics directly on text, INDEPENDENTLY of the
    // persisted index: batch 2 survives iff its text is in neither the
    // history nor batch 1's accepted set (the appended generation)
    Query("q69_dedup_fp_index", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val fixture = ensureFpIndexFixture(s, dir)
      val batch2 = docs.filter(col("doc_id") % 4 === 3)
        .select("doc_id", "text")
        .unionByName(docs.filter(col("doc_id") % 20 === 0) // replays of history
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 20 === 1) // replays of batch 1
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      Dedup.dedupAgainstFingerprintIndex(s, fixture, batch2)
        .select("doc_id")
        .orderBy("doc_id")
    }, oracle = _ => """WITH history AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
        |b1acc AS (
        |  SELECT text FROM documents b1 WHERE doc_id % 4 = 1
        |  AND NOT EXISTS (SELECT 1 FROM history h WHERE h.text = b1.text)),
        |b2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 20 = 1)
        |SELECT doc_id FROM b2
        |WHERE NOT EXISTS (SELECT 1 FROM history h WHERE h.text = b2.text)
        |  AND NOT EXISTS (SELECT 1 FROM b1acc a WHERE a.text = b2.text)
        |ORDER BY doc_id""".stripMargin,
      fixtures = Seq(FpIndexFixture)),
    // ---- q69's NEAR-dup sibling (the persisted-index move applied to the
    // banded-LSH pipeline, q26): the history's band keys + minhash
    // signatures persisted ONCE, each batch probed against the BANDS table
    // (bounded collisions verified by signature agreement — history TEXT
    // appears nowhere in the plan), accepted batches APPENDED as immutable
    // generations. The fixture builds gen 0 over history and appends batch
    // 1's survivors; the benched steady-state body is batch 2's probe:
    // exact replays of history drop (est 1.0), ONE-TOKEN near-replays of
    // history AND of batch-1 survivors drop through the banding (8×8 bands
    // target ~0.77; a one-token append on a median-25-distinct-token doc is
    // j≈0.96), and fresh docs survive unless they are natural near-dups.
    // The oracle restates both generations' acceptance independently from
    // text via the same minhash/band/agreement SQL machinery as q26 ----
    // q78: two-generation near-dup acceptance restated from text via the
    // q26 minhash/band SQL machinery — see bandIndexOracleSql's doc
    Query("q78_neardup_band_index", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val fixture = ensureBandIndexFixture(s, dir)
      val batch2 = docs.filter(col("doc_id") % 4 === 3).select("doc_id", "text")
        .unionByName(docs.filter(col("doc_id") % 20 === 0) // exact replays of history
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 20 === 2) // near-replays of history
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"), lit(" qq")).as("text")))
        .unionByName(docs.filter(col("doc_id") % 20 === 1) // near-replays of batch 1
          .select((col("doc_id") + 4000000L).as("doc_id"),
            concat(col("text"), lit(" qq")).as("text")))
      Dedup.dedupAgainstBandIndex(s, fixture, batch2,
        nHashes = BandIdxHashes, nBands = BandIdxBands,
        minEstJaccard = BandIdxMinJ, seed = BandIdxSeed,
        maxBandCollisions = BandIdxCap)
        .select("doc_id")
        .orderBy("doc_id")
    }, oracle = _ => bandIndexOracleSql(BandIdxHashes, BandIdxBands, BandIdxSeed, BandIdxMinJ, BandIdxCap),
      fixtures = Seq(BandIndexFixture)),
    // ---- LLM-pipeline: eval-set decontamination INDEX — the q55 report's
    // inverse shape for an ingest loop: the eval suites' winnowing
    // fingerprints are persisted once (two generations: install + a second
    // benchmark appended) and a training batch is gated against the
    // blocklist at O(batch); survivors share no verbatim ≥6-token run with
    // any indexed eval doc. Exact-SQL-expressible end to end (the q54/q55
    // winnowing CTE), so the oracle re-derives acceptance from text,
    // independently of the persisted index files ----
    // q82: q54's winnowing CTE re-derives every doc's fingerprint set from
    // TEXT; acceptance is then stated independently of the persisted index:
    // a batch doc survives iff it shares no fingerprint with the two eval
    // slices (doc_id % 20 ∈ {7, 8} — install generation + appended one)
    Query("q82_decontam_index", { (s, dir) =>
      val fixture = ensureEvalIndexFixture(s, dir)
      val batch = Tables.documents(s, dir)
        .filter(col("doc_id") % 5 === 1)
        .select("doc_id", "text")
      Dedup.dedupAgainstEvalIndex(s, fixture, batch)
        .select("doc_id")
        .orderBy("doc_id")
    }, oracle = _ => """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) + 1 AS pos,
        |    CAST(concat('0x', substring(md5(
        |      concat_ws(' ', t[CAST(i AS INT)+1], t[CAST(i AS INT)+2], t[CAST(i AS INT)+3])), 1, 15)) AS BIGINT) AS h
        |  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)),
        |fps AS (
        |  SELECT DISTINCT doc_id,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM grams),
        |ev AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 20 IN (7, 8))
        |SELECT b.doc_id FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 1) b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM fps f JOIN ev e ON e.fp = f.fp WHERE f.doc_id = b.doc_id)
        |ORDER BY doc_id""".stripMargin,
      fixtures = Seq(EvalIndexFixture)),
    // ---- LLM-pipeline: the decontamination TRIAGE report — q82's gate
    // tells the loop what to drop; this tells the curator WHY: for each
    // contaminated batch doc, how many distinct eval docs it collides
    // with and through how many of its fingerprints (the q55 report shape
    // driven by the persisted index's (eval_id, fp) rows) ----
    // q83: the same winnowing CTE, attribution form — per contaminated
    // batch doc, distinct colliding eval docs and distinct shared fps
    Query("q83_decontam_report", { (s, dir) =>
      val fixture = ensureEvalIndexFixture(s, dir)
      val batch = Tables.documents(s, dir)
        .filter(col("doc_id") % 5 === 1)
        .select("doc_id", "text")
      Dedup.evalContaminationReport(s, fixture, batch)
        .orderBy("doc_id")
    }, oracle = _ => """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) + 1 AS pos,
        |    CAST(concat('0x', substring(md5(
        |      concat_ws(' ', t[CAST(i AS INT)+1], t[CAST(i AS INT)+2], t[CAST(i AS INT)+3])), 1, 15)) AS BIGINT) AS h
        |  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)),
        |fps AS (
        |  SELECT DISTINCT doc_id,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM grams),
        |ev AS (SELECT doc_id AS eval_id, fp FROM fps WHERE doc_id % 20 IN (7, 8)),
        |b AS (SELECT f.doc_id, f.fp FROM fps f
        |      JOIN documents d ON d.doc_id = f.doc_id WHERE d.doc_id % 5 = 1)
        |SELECT b.doc_id,
        |  CAST(COUNT(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs,
        |  CAST(COUNT(DISTINCT b.fp) AS BIGINT) AS n_shared_fps
        |FROM b JOIN ev ON ev.fp = b.fp
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      fixtures = Seq(EvalIndexFixture)),
    // ---- LLM-pipeline: corpus-wide hot-span SCRUB (C4/RefinedWeb line
    // dedup) — q59 scores boilerplate, this REWRITES it out: any 4-token
    // span occurring ≥3 times corpus-wide is removed from every document
    // and the survivors re-join in order. Count shuffle carries (hash,
    // count) only; the rewrite is a zero-shuffle per-row filter against
    // the plan-shipped hot set (binary-search membership) ----
    // q84: the same regex span segmentation ([[Text.spanPattern]], one
    // shared constant) and the same md5-substring 60-bit hash as the Spark
    // side; hot membership is decided ON THE HASH in both engines so a
    // collision cannot cause cross-engine drift
    Query("q84_hot_span_scrub", { (s, dir) =>
      Text.hotSpanScrub(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")
    }, oracle = _ => // COALESCE(text, ''): the Spark side's spanChunks deliberately maps
      // null text to an EMPTY span array (n_spans 0, clean_text ''), and
      // regexp_extract_all(NULL) would propagate NULL counts instead (the
      // q75 oracle's guard, same column)
      s"""WITH sp AS (SELECT doc_id,
         |    regexp_extract_all(COALESCE(text, ''), '${Text.spanPattern(4)}') AS l
         |  FROM documents),
         |chunks AS (SELECT doc_id, unnest(range(len(l))) AS i, unnest(l) AS ch FROM sp),
         |hashed AS (SELECT doc_id, i, ch,
         |    CAST(concat('0x', substring(md5(ch), 1, 15)) AS BIGINT) AS h
         |  FROM chunks),
         |hot AS (SELECT h FROM hashed GROUP BY h HAVING COUNT(*) >= 3),
         |kept AS (SELECT k.doc_id, k.i, k.ch FROM hashed k
         |  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.h = k.h)),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    string_agg(ch, ' ' ORDER BY i) AS clean_text
         |  FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_spans FROM sp)
         |SELECT t.doc_id, t.n_spans,
         |  CAST(t.n_spans - COALESCE(a.n_kept, 0) AS BIGINT) AS n_hot,
         |  COALESCE(a.clean_text, '') AS clean_text
         |FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin),
    // ---- LLM-pipeline: intra-document repeated-span removal (the
    // within-doc face of exact dedup, Lee et al. 2021) — later occurrences
    // of a 2-token span already seen in the same document are dropped,
    // first occurrences keep their order. Pure per-row array_distinct in
    // the scan projection: no shuffle, nothing corpus-global ----
    // q85: first-occurrence keep via row_number over (doc, span) in span
    // order — the windowed definition of array_distinct's semantics
    Query("q85_intradoc_span_dedup", { (s, dir) =>
      Text.dropRepeatedSpans(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")
    }, oracle = _ => s"""WITH sp AS (SELECT doc_id,
         |    regexp_extract_all(COALESCE(text, ''), '${Text.spanPattern(2)}') AS l
         |  FROM documents),
         |chunks AS (SELECT doc_id, unnest(range(len(l))) AS i, unnest(l) AS ch FROM sp),
         |kept AS (SELECT doc_id, i, ch FROM (
         |    SELECT doc_id, i, ch,
         |      row_number() OVER (PARTITION BY doc_id, ch ORDER BY i) AS rn
         |    FROM chunks) r
         |  WHERE rn = 1),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    string_agg(ch, ' ' ORDER BY i) AS clean_text
         |  FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_spans FROM sp)
         |SELECT t.doc_id, t.n_spans,
         |  CAST(t.n_spans - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped,
         |  COALESCE(a.clean_text, '') AS clean_text
         |FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin),
    // ---- LLM-pipeline: the INCREMENTAL face of q84 — a batch scrubbed
    // against the persisted span-count index's hot list (installed in two
    // generations over the non-batch corpus, then refreshed). O(batch):
    // history text is never re-read; the hot list is the only global state.
    // The oracle re-derives the hot set and the rewrite from text,
    // independently of the persisted index files (the q82 contract) ----
    // q86: hot set from the NON-batch corpus slices (the two index
    // generations sum to exactly that corpus, so the oracle needs no index
    // files), membership on the shared 60-bit hash, rewrite on the batch
    Query("q86_span_index_scrub", { (s, dir) =>
      val fixture = ensureSpanIndexFixture(s, dir)
      val batch = Tables.documents(s, dir)
        .filter(col("doc_id") % 5 === 1)
        .select("doc_id", "text")
      Text.scrubAgainstHotList(batch, "text", "doc_id", 4,
          Dedup.readHotSpanList(s, fixture))
        .select(col("doc_id"), col("text").as("clean_text"))
        .orderBy("doc_id")
    }, oracle = _ => s"""WITH hsp AS (SELECT regexp_extract_all(COALESCE(text, ''), '${Text.spanPattern(4)}') AS l
         |  FROM documents WHERE doc_id % 5 <> 1),
         |hch AS (SELECT unnest(l) AS ch FROM hsp),
         |hot AS (SELECT h FROM (
         |    SELECT CAST(concat('0x', substring(md5(ch), 1, 15)) AS BIGINT) AS h FROM hch) t
         |  GROUP BY h HAVING COUNT(*) >= 3),
         |b AS (SELECT doc_id, regexp_extract_all(COALESCE(text, ''), '${Text.spanPattern(4)}') AS l
         |  FROM documents WHERE doc_id % 5 = 1),
         |bc AS (SELECT doc_id, unnest(range(len(l))) AS i, unnest(l) AS ch FROM b),
         |kept AS (SELECT doc_id, i, ch FROM (
         |    SELECT doc_id, i, ch,
         |      CAST(concat('0x', substring(md5(ch), 1, 15)) AS BIGINT) AS h
         |    FROM bc) k
         |  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.h = k.h)),
         |agg AS (SELECT doc_id, string_agg(ch, ' ' ORDER BY i) AS clean_text
         |  FROM kept GROUP BY doc_id)
         |SELECT b.doc_id, COALESCE(a.clean_text, '') AS clean_text
         |FROM b LEFT JOIN agg a ON a.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin,
      fixtures = Seq(SpanIndexFixture)),
    // ---- BM25 retrieval over the persisted inverted index: pseudo-queries
    // (each probe doc's top-3 tokens) ranked top-10 by exact int64 BM25 —
    // k1=6/5, b=3/4 make every tf-norm constant rational, and the one
    // transcendental (idf) is quantized ONCE at build time into the terms
    // table, which the oracle JOINS (the q101 shared-artifact discipline:
    // no float crosses the engine boundary). Serving never scans text:
    // probes ⋈ postings ⋈ terms ⋈ doc-norms, per-query sum, WindowGroupLimit
    // top-k ----
    // q119: the ENTIRE BM25 loop re-derived — tokenization, tf, dl, the
    // exact-integer length norm k_e6, pseudo-query selection and the
    // rational tf-normalization (k1=6/5, b=3/4) all from the base table;
    // ONLY idf_e6 (the transcendental, quantized once at build) joins
    // from the persisted terms artifact (q101 shared-artifact discipline)
    Query("q119_bm25_retrieval", { (s, dir) =>
      val idx = ensureBm25Index(s, dir)
      val probes = Bm25.pseudoQueries(
        Tables.documents(s, dir), "text", "doc_id", nQueries = 8, termsPerQuery = 3)
      Bm25.search(s, probes, idx, k = 10).orderBy("query_id", "rank")
    }, oracle = dir => bm25RetrievalOracleSql(s"${Fixture.path(dir, "bm25")}/idx/terms"),
      fixtures = Seq(Bm25Fixture)),
    // ---- hard-negative mining: BM25 top-n (lexically close, self
    // excluded) × embedding cosine against the query doc's own vector
    // (semantically far at cosine <= 0 on this near-uniform synthetic
    // corpus) — the negatives source for training retrieval/embedding
    // models. sim rounds to 4 decimals and the hard flag compares the
    // ROUNDED value (both the q28 cross-engine contract) ----
    // q120: the q119 re-derivation minus self, restricted to the embedded
    // corpus BEFORE the top-10 cut (the judgeability contract — at sf0.1
    // only 2 of 5 docs carry vectors), plus the q28 cosine contract —
    // sim = ROUND(list_cosine_similarity, 4), hard compares the rounded
    // value
    Query("q120_hard_negatives", { (s, dir) =>
      val idx = ensureBm25Index(s, dir)
      val probes = Bm25.pseudoQueries(
        Tables.documents(s, dir), "text", "doc_id", nQueries = 8, termsPerQuery = 3)
      Bm25.hardNegatives(s, probes, idx, Tables.embeddings(s, dir), n = 10)
        .orderBy("query_id", "rank")
    }, oracle = dir => s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         |meta AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS l FROM dl),
         |kd AS (
         |  SELECT doc_id,
         |    CAST(${ExactAgg.Sql.divHalfUp("(3 * l + 9 * dl * n) * 1000000", "10 * l")} AS BIGINT) AS k_e6
         |  FROM dl CROSS JOIN meta),
         |probes AS (
         |  SELECT doc_id AS query_id, term FROM (
         |    SELECT doc_id, term,
         |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS r
         |    FROM tf WHERE doc_id < 8) t
         |  WHERE r <= 3),
         |idf AS (SELECT term, idf_e6
         |  FROM read_parquet('${Fixture.path(dir, "bm25")}/idx/terms/*.parquet')),
         |scored AS (
         |  SELECT p.query_id, tf.doc_id,
         |    CAST(SUM(CAST(${ExactAgg.Sql.divHalfUp(
                 "i.idf_e6 * 22 * tf.tf * 100000", "tf.tf * 1000000 + kd.k_e6")} AS BIGINT)) AS BIGINT) AS score_e6
         |  FROM probes p
         |  JOIN tf ON tf.term = p.term
         |  JOIN idf i ON i.term = p.term
         |  JOIN kd ON kd.doc_id = tf.doc_id
         |  WHERE tf.doc_id <> p.query_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id,
         |    CAST(ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY score_e6 DESC, doc_id) AS INTEGER) AS rank,
         |    doc_id, score_e6
         |  FROM scored s
         |  JOIN embeddings qe0 ON qe0.vec_id = s.query_id
         |  JOIN embeddings ce0 ON ce0.vec_id = s.doc_id
         |  QUALIFY rank <= 10)
         |SELECT r.query_id, r.rank, r.doc_id, r.score_e6,
         |  ROUND(list_cosine_similarity(
         |    CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[])), 4) AS sim,
         |  CAST(ROUND(list_cosine_similarity(
         |    CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[])), 4) <= 0.0 AS BIGINT) AS hard
         |FROM ranked r
         |JOIN embeddings qe ON qe.vec_id = r.query_id
         |JOIN embeddings ce ON ce.vec_id = r.doc_id
         |ORDER BY query_id, rank""".stripMargin,
      fixtures = Seq(Bm25Fixture)),
    // ---- BM25 over the INCREMENTAL index: the q119 retrieval served from
    // an install(gen 0: even docs) + append(gen 1: odd docs) + refresh
    // artifact — proves the generational fact fold reproduces the one-shot
    // arithmetic all the way through the DuckDB gate ----
    // q122: the IDENTICAL re-derivation pointed at the incremental
    // install+append+refresh artifact's terms table — the gate value is
    // that the generational fold served exactly the one-shot arithmetic
    Query("q122_bm25_index_append", { (s, dir) =>
      val idx = ensureBm25IncIndex(s, dir)
      val probes = Bm25.pseudoQueries(
        Tables.documents(s, dir), "text", "doc_id", nQueries = 8, termsPerQuery = 3)
      Bm25.search(s, probes, Bm25.indexRoot(idx), k = 10).orderBy("query_id", "rank")
    }, oracle = dir => bm25RetrievalOracleSql(
        s"${Fixture.path(dir, "bm25_inc")}/idx/index/terms"),
      fixtures = Seq(Bm25IncFixture)),
    // ---- the q119 serve from a TERM-BUCKETED postings layout (the
    // q77/q80 catalog machinery): the probe's distinct terms become a
    // literal IN filter on the bucket column, so the postings scan opens
    // ONLY the buckets holding probed terms (SelectedBucketsCount in the
    // plan — at a 100 TB postings table, |probe terms| buckets instead of
    // listing the lake) and still reaches its join with zero Exchange.
    // Same exact integers, same oracle as q119 — the layout is the only
    // variable, which is exactly the claim under test ----
    // q123: layout-only variant of q119 — the bucketed catalog serve must
    // reproduce the identical ranking and integers, so the oracle IS
    // q119's re-derivation against the same one-shot artifact
    Query("q123_bm25_bucketed_serve", { (s, dir) =>
      val idx = ensureBm25Index(s, dir)
      val tbl = ensureBm25BucketedPostings(s, dir)
      val probes = Bm25.pseudoQueries(
        Tables.documents(s, dir), "text", "doc_id", nQueries = 8, termsPerQuery = 3)
      Bm25.searchBucketed(s, probes, tbl, idx, k = 10).orderBy("query_id", "rank")
    }, oracle = dir => bm25RetrievalOracleSql(s"${Fixture.path(dir, "bm25")}/idx/terms"),
      fixtures = Seq(Bm25Fixture, Bm25PostingsFixture)),
    // ---- retrieval-based decontamination: the near-verbatim/paraphrase
    // layer winnowing (q55/q82) cannot see — every train doc's top-1
    // shingle-BM25 match against the indexed eval suites, flagged on the
    // per-shingle normalized score (raw top-1 is length-confounded).
    // Train side = the clean slices ∪ INJECTED light-edit copies of eval
    // docs (id + 1e6, 'edited copy ' prefix — the q57 replay-injection
    // discipline): every injected leak must flag, and the handful of
    // natural flags are the corpus's engineered near-dup cliques
    // straddling the eval slice — true contamination, not noise ----
    // q124: the full shingle-BM25 decontamination sweep re-derived from
    // the base table — bigram terms, bag-of-shingles query scoring, the
    // exact-integer length norm and the per-shingle normalization; only
    // idf_e6 joins from the persisted eval-index artifact (the q119
    // discipline), and the threshold interpolates the SAME shared
    // constant the engine flags with
    Query("q124_retrieval_decontam", { (s, dir) =>
      val idx = ensureBm25EvalIndex(s, dir)
      val docs = Tables.documentsHeavy(s, dir)
      val clean = docs.filter(col("doc_id") % 20 =!= 7 && col("doc_id") % 20 =!= 8)
      val leaked = docs.filter(col("doc_id") % 20 === 7)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(lit("edited copy "), col("text")))
      // NOT orderedOnce: measured (PLANS.md r16), the presentation sort
      // adds ~nothing here — the last shuffle sits right below the top-1
      // window, so the RangePartitioner's sampling pass re-reads shuffle
      // output, not the shingle explode. The cost IS the report pipeline.
      Bm25.contaminationReport(clean.unionByName(leaked), "text", "doc_id", idx)
        .orderBy("doc_id")
    }, oracle = dir => s"""${shingleBm25NormedSql(dir,
             "SELECT doc_id, text FROM documents WHERE doc_id % 20 NOT IN (7, 8)")}
         |SELECT doc_id, eval_id, score_e6, norm_e6,
         |  CAST(norm_e6 >= ${Bm25.ContaminationThresholdE6} AS BIGINT) AS contaminated
         |FROM normed
         |ORDER BY doc_id""".stripMargin,
      fixtures = Seq(Bm25EvalFixture)),
    // ---- the q124 threshold-recalibration recipe as a GATED operator
    // (r15 stretch #8 made first-class): score a known-clean SAMPLE (the
    // %20==1 slice — the recipe calibrates on samples, not the corpus)
    // and a known-leaked sample (the q124 injection) against the same
    // eval index, emit the one-row separation report. Every column is
    // exact integer arithmetic the oracle re-derives through the q124
    // CTE chain plus two population aggregates; `separated`/`suggested`
    // are corpus facts the differential pins, not assertions ----
    // q127: the calibration report's aggregates over the SAME normed
    // relation (one generated derivation, the two oracles cannot drift) —
    // clean sample = the %20==1 slice, leaked sample = the q124
    // injection; populations split by the injection's id offset.
    // calibrateContaminationThreshold sweeps the two samples SEPARATELY,
    // the oracle sweeps their union — per-doc top-1 scores are
    // independent of the sweep's co-population, which is itself part of
    // the claim under test
    Query("q127_decontam_calibration", { (s, dir) =>
      val idx = ensureBm25EvalIndex(s, dir)
      val docs = Tables.documents(s, dir)
      val clean = docs.filter(col("doc_id") % 20 === 1)
      val leaked = docs.filter(col("doc_id") % 20 === 7)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(lit("edited copy "), col("text")))
      Bm25.calibrateContaminationThreshold(clean, leaked, "text", "doc_id", idx)
    }, oracle = dir => s"""${shingleBm25NormedSql(dir,
             "SELECT doc_id, text FROM documents WHERE doc_id % 20 = 1")}
         |, cstat AS (
         |  SELECT COUNT(*) AS scored, MAX(norm_e6) AS mx
         |  FROM normed WHERE doc_id < 1000000),
         |lstat AS (
         |  SELECT COUNT(*) AS scored, MIN(norm_e6) AS mn
         |  FROM normed WHERE doc_id >= 1000000),
         |pop AS (SELECT
         |  (SELECT COUNT(*) FROM train WHERE doc_id < 1000000) AS clean_n,
         |  (SELECT COUNT(*) FROM train WHERE doc_id >= 1000000) AS leaked_n)
         |SELECT
         |  CAST(pop.clean_n AS BIGINT) AS clean_n,
         |  CAST(c.scored AS BIGINT) AS clean_scored,
         |  c.mx AS clean_max_e6,
         |  CAST(pop.leaked_n AS BIGINT) AS leaked_n,
         |  CAST(l.scored AS BIGINT) AS leaked_scored,
         |  l.mn AS leaked_min_e6,
         |  CAST(l.scored = pop.leaked_n
         |    AND COALESCE(c.mx < l.mn, false) AS BIGINT) AS separated,
         |  CAST(${ExactAgg.Sql.divHalfUp(
               "COALESCE(c.mx, 0) + COALESCE(l.mn, 0)", "2")} AS BIGINT) AS suggested_e6
         |FROM cstat c CROSS JOIN lstat l CROSS JOIN pop""".stripMargin,
      fixtures = Seq(Bm25EvalFixture))
  )
}
