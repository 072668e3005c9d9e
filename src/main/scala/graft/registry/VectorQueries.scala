package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, ExactAgg, Pq, Similarity}
import graft.ops.Sampling
import graft.sources.Tables

/** Vector registry queries: brute-force, LSH, IVF, int8 and PQ
  * nearest-neighbour search, k-means training, the persisted IVF and
  * IVF-PQ indexes with their growth and health gates, and embedding dedup.
  */
object VectorQueries {

  /** IVF model hyperparameters for the persisted-index queries (q67, q70).
    * Constants here, not inline at call sites: they are part of the index
    * FIXTURE's identity — [[ivfIndexStamp]] folds them into the stamp so a
    * hyperparameter change rebuilds the index instead of silently serving
    * a model trained under the old values (round-6 verdict #3).
    */
  private[graft] val IvfCells = 16
  private[graft] val IvfIters = 2

  /** Stamp for a persisted IVF index fixture: the embeddings' source stamp
    * (`source`, a [[Fixture.sourceStamp]] — sfDir + row count + content
    * hash) plus the model hyperparameters and quantizer scheme version,
    * which live in code where no data fingerprint can see them.
    */
  private[graft] def ivfIndexStamp(source: String, k: Int, iters: Int): String =
    s"$source|k=$k|iters=$iters|quant=${graft.functions.Int8Ops.QuantizerVersion}|km=${Similarity.KmeansVersion}"

  /** Train + persist the IVF index at `fixture` unless the stamp already
    * matches the current corpus AND model hyperparameters. Extracted from
    * q67 so the rebuild-on-hyperparameter-change behavior is directly
    * spec-testable (`IvfIndexSpec` flips k and observes the rebuild).
    */
  private[graft] def ensureIvfIndex(
      emb: DataFrame, source: String, fixture: String, k: Int, iters: Int): Unit =
    Fixture.ensure(emb.sparkSession, fixture, ivfIndexStamp(source, k, iters)) {
      Similarity.writeIvfIndex(
        emb, Similarity.kmeansCentroids(emb, k = k, iters = iters), fixture)
    }

  /** Stamped build of the served IVF index fixture q67 and q100 read: the
    * [[ensureIvfIndex]] build over the embeddings at the registry's model
    * hyperparameters. Returns the fixture path.
    */
  private[graft] def ensureServedIvfIndex(s: SparkSession, dir: String): String = {
    val fixture = Fixture.path(dir, "ivf_index")
    ensureIvfIndex(Tables.embeddings(s, dir), Fixture.sourceStamp(s, dir, "embeddings"),
      fixture, k = IvfCells, iters = IvfIters)
    fixture
  }

  /** Stamped build of the q92 IVF-PQ index fixture — the [[ensureIvfIndex]]
    * contract with the PQ model folded into the identity: both models'
    * hyperparameters AND both scheme versions (coarse kmeans + PQ trainer)
    * are stamp ingredients, so changing any of them rebuilds instead of
    * serving codes trained under the old scheme.
    */
  private[graft] def ensureIvfPqIndex(s: SparkSession, dir: String): String = {
    val emb = Tables.embeddings(s, dir)
    val fixture = Fixture.path(dir, "ivf_pq_index")
    Fixture.ensure(s, fixture, ivfIndexStamp(
        Fixture.sourceStamp(s, dir, "embeddings"), IvfCells, IvfIters) +
        s"|pq_m=$PqM|pq_k=$PqK|pq_iters=$PqIters|pq=${Pq.PqVersion}") {
      val cents = Similarity.kmeansCentroids(emb, k = IvfCells, iters = IvfIters)
      val model = Pq.train(emb, Pq.initCodebooks(emb, dims = 64, m = PqM, k = PqK), iters = PqIters)
      Pq.writeIvfPqIndex(emb, cents, model, fixture)
    }
  }

  /** The GROWN-index fixture q70 (append gate) and q79 (health monitor)
    * share: an index trained+built over 90% of the corpus, then the
    * remaining 10% appended against the frozen centroids. The stamp covers
    * the FULL corpus content (base + batch both determine the post-append
    * state) plus model hyperparameters + an append-protocol version; any
    * mismatch rebuilds base AND re-appends, so the append runs exactly
    * once per fixture build (a bare re-append would duplicate rows).
    */
  private[graft] def ensureAppendedIvfIndex(
      s: SparkSession, dir: String): String = {
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(col("vec_id") % 10 =!= 7)
    val batch = emb.filter(col("vec_id") % 10 === 7)
    val fixture = Fixture.path(dir, "ivf_index_append")
    Fixture.ensure(s, fixture, ivfIndexStamp(
        Fixture.sourceStamp(s, dir, "embeddings"), IvfCells, IvfIters) + "|append-v1") {
      val cents = Similarity.kmeansCentroids(base, k = IvfCells, iters = IvfIters)
      Similarity.writeIvfIndex(base, cents, fixture)
      Similarity.appendToIvfIndex(s, fixture, batch)
    }
  }

  /** q79 diagnostic sidecar (round-9 verdict #1a): one JSON string that
    * pins everything the hash gate can disagree about — the fixture's
    * on-disk identity (stamp + data file count), the per-cell list sizes
    * the skew stats derive from, and the engine's RAW recall inputs
    * (hits, nq, recall×10⁴) behind the thresholded `recall_ok` the query
    * emits. One read of this artifact attributes any future q79 mismatch
    * to fixture build-divergence (stamp/file/cell rows differ), read-
    * divergence (cells agree, stats don't), or the recall envelope (raw
    * recall near the 0.60 floor). Verify writes it next to the q79 dump.
    */
  private[graft] def q79Diagnostics(s: SparkSession, dir: String): String = {
    val fixture = ensureAppendedIvfIndex(s, dir)
    val stamp = Fixture.readStamp(s, fixture).getOrElse("<missing>")
    val dataFiles = {
      val it = graft.functions.IndexProtocol.fileSystem(s, fixture)
        .listFiles(new org.apache.hadoop.fs.Path(fixture), true)
      var n = 0L
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    val cells = Tables.parquetScan(s, s"$fixture/lists")
      .select(col("cell_id"), col("vec_id")).distinct()
      .groupBy("cell_id").agg(count(lit(1)).as("n"))
      .orderBy("cell_id").collect()
      .map(r => s"""[${r.get(0)},${r.getLong(1)}]""").mkString("[", ",", "]")
    val k = 10
    val rec = Similarity.ivfIndexRecall(
        s, fixture, Tables.embeddings(s, dir).filter(col("vec_id") < 8),
        nProbe = 4, k = k)
      .agg(coalesce(sum(col("hits")), lit(0L)).as("h"), count(lit(1)).as("n")).head()
    val (hits, nq) = (rec.getLong(0), rec.getLong(1))
    val recallE4 = if (nq == 0) -1L else hits * 10000L / (nq * k)
    s"""{"fixture":"$fixture","stamp":"${stamp.replace("\"", "\\\"")}",""" +
      s""""data_files":$dataFiles,"cells":$cells,""" +
      s""""hits":$hits,"nq":$nq,"k":$k,"recall_e4":$recallE4}"""
  }

  /** PQ model shape for the q90/q91 gates: 16 subspaces × 16 codes over
    * the 64-dim embeddings = 16 bytes/vector (16× vs float32) — chosen by
    * a recall sweep on the near-uniform synthetic embeddings (m=8's 32×
    * codes recall 0.53-0.73 at 5k shortlist; m=16 at 10k recalls
    * 0.88-0.99, see PLANS.md).
    */
  private val PqM = 16
  private val PqK = 16
  private val PqIters = 3

  /** The CTE chain ending in `simpairs(a_id, b_id, sim)` — shared by the
    * q29 oracle and the q51 embedding-dedup oracle.
    */
  private def lshSimPairsCte(dims: Int, nBits: Int, seed: Long, maxBucket: Int): String = {
    val bits = (0 until nBits).map { b =>
      val dot = (0 until dims).map { d =>
        val m = functions.Similarity.lshCoeffMantissa(b, d, seed)
        s"e[${d + 1}] * ($m / 4503599627370496.0 - 1.0)"
      }.mkString(" + ")
      s"CASE WHEN ($dot) >= 0 THEN ${1L << b} ELSE 0 END"
    }.mkString("\n    + ")
    s"""ids AS (
       |  SELECT vec_id,
       |    ($bits) AS bucket
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) t),
       |ok AS (SELECT bucket FROM ids GROUP BY bucket HAVING COUNT(*) <= $maxBucket),
       |f AS (SELECT i.vec_id, i.bucket FROM ids i JOIN ok USING (bucket)),
       |bpairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM f a JOIN f b ON b.bucket = a.bucket AND a.vec_id < b.vec_id),
       |simpairs AS (
       |  SELECT a_id, b_id,
       |    ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 4) AS sim
       |  FROM bpairs
       |  JOIN embeddings ea ON ea.vec_id = a_id
       |  JOIN embeddings eb ON eb.vec_id = b_id)""".stripMargin
  }

  /** Generated DuckDB oracle for q29: random-hyperplane buckets rebuilt
    * from [[Similarity.lshCoeffMantissa]] — each coefficient is m/2^52 − 1,
    * exact dyadic arithmetic both engines evaluate identically — followed by
    * the same bucket-size cap, same-bucket pairing and cosine re-rank
    * (list_cosine_similarity ≡ the native expression, proven by q28).
    */
  private def lshAnnOracleSql(dims: Int, nBits: Int, seed: Long, maxBucket: Int): String =
    s"""WITH ${lshSimPairsCte(dims, nBits, seed, maxBucket)}
       |SELECT a_id, b_id, sim FROM simpairs ORDER BY a_id, b_id""".stripMargin

  /** q51 oracle: LSH cosine pairs thresholded into near-dup edges, closed
    * transitively (same recursive shape as the q48 oracle).
    */
  private def embeddingDedupOracleSql(
      dims: Int, nBits: Int, seed: Long, maxBucket: Int, minSim: Double): String =
    s"""WITH RECURSIVE ${lshSimPairsCte(dims, nBits, seed, maxBucket)},
       |cand AS (SELECT a_id, b_id FROM simpairs WHERE sim >= $minSim),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM cand
       |  UNION
       |  SELECT b_id AS src, a_id AS dst FROM cand),
       |reach(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.l FROM edges e JOIN reach r ON r.id = e.dst)
       |SELECT id AS vec_id, CAST(MIN(l) AS BIGINT) AS rep
       |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin

  // The stamped fixtures this family's queries read.
  private val IvfIndexFixture = Prebuild("ivf_index", ensureServedIvfIndex)
  private val IvfAppendFixture = Prebuild("ivf_index_append", ensureAppendedIvfIndex)
  private val IvfPqFixture = Prebuild("ivf_pq_index", ensureIvfPqIndex)

  /** This family's registry records: builder, oracle and fixtures. */
  def records: Seq[Query] = Seq(
    // ---- LLM-pipeline: brute-force cosine top-k ANN baseline ----
    Query("q28_embedding_knn", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy("query_id", "rank")
    }, oracle = _ => """WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS s
        |  FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, ROUND(s, 4) AS sim,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS INTEGER) AS rank
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // ---- LLM-pipeline: int8-quantized ANN (the 4x-memory scale path).
    // Value-oracled exactly: quantized components come from identical IEEE
    // floor(x/maxabs*127+0.5) ops in both engines, and the quantized
    // cosine's dot/norm sums are integers < 2^53 (exact in any order),
    // leaving one sqrt+division on identical doubles ----
    // q63: DuckDB reproduces the quantizer bit-for-bit (identical IEEE
    // floor(x/ma*127+0.5) over exact float->double casts), and the
    // quantized values are small integers, so the double-typed dot/norm
    // sums below are EXACT — the one sqrt+division then matches the
    // engine's Int8Cosine to the last ulp, same as q28's precedent
    Query("q63_int8_ann", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.int8TopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy("query_id", "rank")
    }, oracle = _ => """WITH base AS (
        |  SELECT vec_id,
        |    list_transform(dv, x -> floor(x / ma * 127.0 + 0.5)) AS qv
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv,
        |          list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) AS ma
        |        FROM embeddings)),
        |q AS (SELECT vec_id, qv FROM base WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.qv, c.qv), p -> p[1] * p[2])) /
        |      (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
        |       sqrt(list_sum(list_transform(c.qv, x -> x * x)))) AS s
        |  FROM q CROSS JOIN base c WHERE c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, ROUND(s, 4) AS sim,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS INTEGER) AS rank
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // ---- LLM-pipeline: the 100 TB ANN COMPOSITION — trained-centroid IVF
    // (q62's spherical k-means) over int8-quantized inverted lists (q63's
    // quantizer), nProbe cell pruning, integer-exact Int8Cosine ranking.
    // Result rows depend on the trained model (float-ulp partition-order
    // sensitive), so like q39/q62 the gate is an ENVELOPE: n_queries is
    // exact; results_ok asserts every query returns exactly k rows ranked
    // 1..k; recall_ok asserts recall@10 vs the in-query float brute-force
    // baseline clears 0.60 — an empirical floor with wide margin (measured
    // 0.86-0.95 across sf0.001/0.01/0.1 at nCells=16, nProbe=4; the floor
    // is the sketch-style contract being asserted, a collapsed/broken
    // index scores ~nProbe/nCells ≈ 0.25). Flags are int64 0/1 coalesced
    // to 0 so degenerate cases fail loudly. The benched body deliberately
    // includes training AND the exact baseline (the correctness gate);
    // q66 times the production shape without the baseline baggage ----
    // q64/q66: the trained model is float-ulp engine-internal, so the
    // oracle pins the ENVELOPE — exact query count plus constant-1 flags
    // (k results ranked 1..k per query; recall@10 >= 0.60 vs brute force,
    // measured 0.86-0.95 across all three SFs) — the same contract shape
    // as q39's sketch bounds and q62's inertia gate
    Query("q64_ivf_int8_ann", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val k = 10
      val queries = emb.filter(col("vec_id") < 10)
      val cents = Similarity.kmeansCentroids(emb, k = IvfCells, iters = IvfIters)
      // persisted like q53's shared prefix: the approx result feeds BOTH
      // the recall join and the shape flags below — without the persist
      // the whole IVF pipeline (corpus assignment + quantization included)
      // executes twice. Narrow rows (4 columns, nQueries×k of them); the
      // bench clears caches between queries.
      val approx = Similarity.ivfInt8TopK(emb, queries, cents, nProbe = 4, k = k)
        .persist()
      val exact = Similarity.bruteForceTopK(emb, queries, k)
        .select(col("query_id"), col("neighbor_id"))
      val hits = approx
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("__hits"))
      approx
        .groupBy("query_id")
        .agg(
          count(lit(1)).as("__n"),
          min(col("rank")).as("__rmin"),
          max(col("rank")).as("__rmax"))
        .agg(
          count(lit(1)).as("n_queries"),
          coalesce(
            (min(col("__n")) === k && max(col("__n")) === k &&
              min(col("__rmin")) === 1 && max(col("__rmax")) === k).cast("long"),
            lit(0L)).as("results_ok"))
        .crossJoin(hits)
        .select(
          col("n_queries"),
          col("results_ok"),
          coalesce(
            (col("__hits") * 10000L >= col("n_queries") * (k * 6000L)).cast("long"),
            lit(0L)).as("recall_ok"))
    }, oracle = _ => """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(1 AS BIGINT) AS results_ok,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),
    // ---- the SERVING half of the IVF story: the q64/q66 index persisted
    // once (cell_id-partitioned int8 lists + centroid model, stamped
    // write-once like q61/q65), then queried — the probed cells become an
    // isin PARTITION predicate, so the scan physically reads only
    // nQueries×nProbe of the nCells directories (plan-asserted). This is
    // what amortizes training at 100 TB: q64/q66 pay train+quantize every
    // run; a production corpus pays it once and serves from here ----
    // q67: same envelope family — the served results depend on the
    // persisted trained model, but any correct index returns the 3
    // queries' k results ranked 1..k
    Query("q67_ivf_index_serve", { (s, dir) =>
      val fixture = ensureServedIvfIndex(s, dir)
      Similarity.queryIvfIndex(
        s, fixture, Tables.embeddings(s, dir).filter(col("vec_id") < 3), nProbe = 3, k = 5)
        .groupBy("query_id")
        .agg(
          count(lit(1)).as("__n"),
          min(col("rank")).as("__rmin"),
          max(col("rank")).as("__rmax"))
        .agg(
          count(lit(1)).as("n_queries"),
          coalesce(
            (min(col("__n")) === 5 && max(col("__n")) === 5 &&
              min(col("__rmin")) === 1 && max(col("__rmax")) === 5).cast("long"),
            lit(0L)).as("results_ok"))
    }, oracle = _ => """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(1 AS BIGINT) AS results_ok
        |FROM embeddings WHERE vec_id < 3""".stripMargin,
      fixtures = Seq(IvfIndexFixture)),
    // ---- the GROWTH half of the persisted-index story (q67 serves a
    // static index; a real corpus grows): the index is built over 90% of
    // the corpus with centroids trained on that base, then the remaining
    // 10% is APPENDED — assigned to the persisted model, quantized, written
    // into the existing cell partitions, no retrain, history lists never
    // rewritten. The gate flag is the operator's defining equivalence,
    // computed in-engine: serving the appended index must be ROW-IDENTICAL
    // to the in-memory composition over the full corpus under the index's
    // own centroids (assignment + int8 scores + vec_id tiebreaks are all
    // deterministic given the model, so any divergence = a real append
    // defect, not noise) ----
    // q70: append-vs-rebuild is deterministic given the persisted model
    // (int8 scores + vec_id tiebreaks), so append_match is exactly 1 for
    // any correct append — same envelope family as q62/q64/q67
    Query("q70_ivf_index_append", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val fixture = ensureAppendedIvfIndex(s, dir)
      val queries = emb.filter(col("vec_id") < 3)
      val served = Similarity.queryIvfIndex(s, fixture, queries, nProbe = 3, k = 5)
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("s_nid"), col("sim").as("s_sim"))
      val rebuilt = Similarity.ivfInt8TopK(
          emb, queries, Similarity.readIvfCentroids(s, fixture), nProbe = 3, k = 5)
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("r_nid"), col("sim").as("r_sim"))
      val diff = served.join(rebuilt, Seq("query_id", "rank"), "full_outer")
        .agg(coalesce(sum(
          when(col("s_nid").isNull || col("r_nid").isNull ||
            col("s_nid") =!= col("r_nid") || col("s_sim") =!= col("r_sim"), 1L)
            .otherwise(0L)), lit(0L)).as("__mismatches"))
      served
        .groupBy("query_id")
        .agg(
          count(lit(1)).as("__n"),
          min(col("rank")).as("__rmin"),
          max(col("rank")).as("__rmax"))
        .agg(
          count(lit(1)).as("n_queries"),
          coalesce(
            (min(col("__n")) === 5 && max(col("__n")) === 5 &&
              min(col("__rmin")) === 1 && max(col("__rmax")) === 5).cast("long"),
            lit(0L)).as("results_ok"))
        .crossJoin(diff)
        .select(
          col("n_queries"),
          col("results_ok"),
          coalesce((col("__mismatches") === 0L).cast("long"), lit(0L)).as("append_match"))
    }, oracle = _ => """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(1 AS BIGINT) AS results_ok,
        |  CAST(1 AS BIGINT) AS append_match
        |FROM embeddings WHERE vec_id < 3""".stripMargin,
      fixtures = Seq(IvfAppendFixture)),
    // ---- the MONITORING half of the frozen-centroid story (q70 grows the
    // index against centroids trained once; nothing previously measured
    // what freezing costs): per-cell SKEW telemetry over the same grown
    // fixture q70 serves — a drifting corpus concentrates appends into few
    // cells, pushing probe cost toward O(corpus) — plus a sampled RECALL
    // re-gate of the served index against an exhaustive int8 ranking over
    // the index's own vectors (all cells, no probe pruning). The skew
    // stats are exact int64s the oracle recomputes independently from the
    // index FILES (hive-partitioned read — the q47 fixture-read contract);
    // recall is deterministic-but-engine-internal and gates as an envelope
    // flag with q64's 0.60 floor. When the monitor trips, the repair is
    // Similarity.migrateIvfIndex (build-alongside + two-rename swap;
    // SimilaritySpec proves serve-equivalence and the crash window) ----
    // q79: the skew stats recomputed INDEPENDENTLY from the grown index's
    // files (hive-partitioned read, the q47 fixture-read contract) — a
    // wrong cell count, a dropped append row or a stats-aggregation defect
    // all hash-fail; recall_ok is the engine-internal envelope constant
    // (q62/q64 family)
    Query("q79_ivf_index_health", { (s, dir) =>
      val fixture = ensureAppendedIvfIndex(s, dir)
      val emb = Tables.embeddings(s, dir)
      val k = 10
      val sizes = Tables.parquetScan(s, s"$fixture/lists")
        .select(col("cell_id"), col("vec_id")).distinct()
        .groupBy("cell_id").agg(count(lit(1)).as("n"))
      val stats = sizes.agg(
          count(lit(1)).as("n_cells"),
          sum(col("n")).as("n_vecs"),
          max(col("n")).as("max_list"),
          min(col("n")).as("min_list"))
        .select(
          col("n_cells"), col("n_vecs"), col("max_list"), col("min_list"),
          ExactAgg.divHalfUp(col("max_list") * 100 * col("n_cells"), col("n_vecs"))
            .as("skew_e2"),
          coalesce((col("max_list") * col("n_cells") <= col("n_vecs") * 10).cast("long"),
            lit(0L)).as("skew_ok"))
      val recall = Similarity.ivfIndexRecall(
          s, fixture, emb.filter(col("vec_id") < 8), nProbe = 4, k = k)
        .agg(coalesce(sum(col("hits")), lit(0L)).as("__hits"), count(lit(1)).as("__nq"))
        .select(coalesce(
          (col("__hits") * 100 >= col("__nq") * k * 60).cast("long"), lit(0L)).as("recall_ok"))
      stats.crossJoin(recall)
    }, oracle = dir => s"""WITH cells AS (
         |  SELECT cell_id, COUNT(DISTINCT vec_id) AS n
         |  FROM read_parquet('${Fixture.path(dir, "ivf_index_append")}/lists/*/*.parquet', hive_partitioning=1)
         |  GROUP BY cell_id)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(SUM(n) AS BIGINT) AS n_vecs,
         |  CAST(MAX(n) AS BIGINT) AS max_list,
         |  CAST(MIN(n) AS BIGINT) AS min_list,
         |  CAST(${ExactAgg.Sql.divHalfUp("MAX(n) * 100 * COUNT(*)", "SUM(n)")} AS BIGINT) AS skew_e2,
         |  CAST(CASE WHEN MAX(n) * COUNT(*) <= SUM(n) * 10 THEN 1 ELSE 0 END AS BIGINT) AS skew_ok,
         |  CAST(1 AS BIGINT) AS recall_ok
         |FROM cells""".stripMargin,
      fixtures = Seq(IvfAppendFixture)),
    // ---- q64's PRODUCTION sibling (the q39→q60 pattern): the same
    // trained-IVF × int8 composition WITHOUT the exact brute-force recall
    // baseline q64 carries to be gate-able — this is the shape a 100 TB
    // similarity-search run actually executes, so the bench times it
    // separately. Envelope: exact n_queries + the k-rows-ranked-1..k flag ----
    Query("q66_ivf_int8_production", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val k = 10
      val queries = emb.filter(col("vec_id") < 10)
      val cents = Similarity.kmeansCentroids(emb, k = IvfCells, iters = IvfIters)
      Similarity.ivfInt8TopK(emb, queries, cents, nProbe = 4, k = k)
        .groupBy("query_id")
        .agg(
          count(lit(1)).as("__n"),
          min(col("rank")).as("__rmin"),
          max(col("rank")).as("__rmax"))
        .agg(
          count(lit(1)).as("n_queries"),
          coalesce(
            (min(col("__n")) === k && max(col("__n")) === k &&
              min(col("__rmin")) === 1 && max(col("__rmax")) === k).cast("long"),
            lit(0L)).as("results_ok"))
    }, oracle = _ => """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(1 AS BIGINT) AS results_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),
    // ---- LLM-pipeline: LSH-bucketed ANN pairs (scale path; oracled via generated SQL) ----
    Query("q29_lsh_ann_pairs", { (s, dir) =>
      Similarity.lshCandidatePairs(Tables.embeddings(s, dir), dims = 64, nBits = 12, seed = 7L)
        .orderBy("a_id", "b_id")
    }, oracle = _ => lshAnnOracleSql(dims = 64, nBits = 12, seed = 7L, maxBucket = 1000)),
    // ---- LLM-pipeline: embedding norm stats per label. Each norm is
    // floored to integer 1e-6 units (floor of an identical double is
    // cross-engine-unambiguous, unlike round) and averaged in exact
    // integer arithmetic, so no float accumulation order or rounding
    // tie can flip the result ----
    Query("q30_embedding_norms", { (s, dir) =>
      Tables.embeddings(s, dir)
        .withColumn("__ne6", floor(Similarity.norm(col("embedding")) * 1000000.0))
        .groupBy("label")
        .agg(
          count(lit(1)).as("cnt"),
          (ExactAgg.divHalfUp(sum(col("__ne6")), count(col("__ne6")) * 100) / 10000.0)
            .as("avg_norm"))
        .orderBy("label")
    }, oracle = _ => s"""SELECT label, COUNT(*) AS cnt,
         |  CAST(${ExactAgg.Sql.divHalfUp("SUM(ne6)", "COUNT(*) * 100")} AS DOUBLE) / 10000.0 AS avg_norm
         |FROM (SELECT label,
         |    CAST(floor(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) * 1000000.0) AS BIGINT) AS ne6
         |  FROM embeddings) t
         |GROUP BY label ORDER BY label""".stripMargin),
    // ---- LLM-pipeline: IVF ANN (coarse quantize -> probe cells -> re-rank).
    // Deliberately the VALUE-EXACT flavor: deterministic exemplar centroids
    // + float cosine make every output row reproducible in the SQL oracle.
    // The 100 TB flavor — trained centroids + int8 lists — is q64/q66, and
    // its persisted serving shape is q67; this query pins the IVF
    // mechanics (probe selection, cell-pruned candidate set, re-rank) by
    // exact rows where those must gate by envelope ----
    Query("q43_ivf_ann", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), nCells = 32, nProbe = 4, k = 5)
        .orderBy("query_id", "rank")
    }, oracle = _ => """WITH cents AS (
        |  SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cell_vec
        |  FROM embeddings WHERE vec_id < 32),
        |corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        |assigned AS (
        |  SELECT vec_id, vec, cell_id FROM (
        |    SELECT c.vec_id, c.vec, ct.cell_id,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_cosine_similarity(c.vec, ct.cell_vec) DESC, ct.cell_id) AS rn
        |    FROM corpus c CROSS JOIN cents ct) t WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, qvec, cell_id FROM (
        |    SELECT q.vec_id AS query_id, q.vec AS qvec, ct.cell_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.vec, ct.cell_vec) DESC, ct.cell_id) AS rn
        |    FROM corpus q CROSS JOIN cents ct WHERE q.vec_id < 10) t WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id, list_cosine_similarity(p.qvec, a.vec) AS s
        |  FROM probes p JOIN assigned a USING (cell_id) WHERE a.vec_id <> p.query_id)
        |SELECT query_id, neighbor_id, ROUND(s, 4) AS sim,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS INTEGER) AS rank
        |FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // ---- k-means training as a GATED query (previously test-only): train
    // 3 SPHERICAL Lloyd's iterations, then emit the contract any correct
    // trainer keeps — every vector lands in a cell of [0, k), and the
    // trained model's cosine inertia is no worse than the init model's.
    // Monotonicity is GUARANTEED (not merely empirical): the update step is
    // the cosine objective's own maximizer (normalized-member mean — see
    // kmeansCentroids' docstring); 1e-6 relative slack covers float
    // summation order. Exact centroid values are float-ulp engine-internal
    // — like q39's sketches, the ORACLE-able part is the envelope. The
    // benched body deliberately includes the training loop (q62 IS the
    // training query); the gate flags are single-pass PLAN aggregates over
    // bestCosine ladders, not driver-computed lits, so the plan auditor
    // sees them and the corpus is read exactly once beyond training ----
    // q62: the envelope any correct k-means keeps (assignment range +
    // Lloyd's inertia monotonicity) — exact centroids are float-ulp
    // engine-internal, like q39's sketch registers
    Query("q62_kmeans_train", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val k = 8
      val init: Array[Array[Float]] = emb.orderBy("vec_id").limit(k)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val trained = Similarity.kmeansCentroids(emb, k, iters = 3)
      val centsIdx = trained.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      emb
        .select(
          Similarity.nearestCentroid(col("embedding"), centsIdx).as("cell_id"),
          Similarity.bestCosine(col("embedding"), trained).as("__cos_trained"),
          Similarity.bestCosine(col("embedding"), init).as("__cos_init"))
        .agg(
          count(lit(1)).as("n_vectors"),
          coalesce(
            (max(col("cell_id")) < k && min(col("cell_id")) >= 0).cast("long"),
            lit(0L)).as("cells_ok"),
          coalesce(
            (sum(lit(1.0) - col("__cos_trained"))
              <= sum(lit(1.0) - col("__cos_init")) * (1 + 1e-6)).cast("long"),
            lit(0L)).as("inertia_improved"))
    }, oracle = _ => """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(1 AS BIGINT) AS cells_ok,
        |  CAST(1 AS BIGINT) AS inertia_improved
        |FROM embeddings""".stripMargin),
    // ---- LLM-pipeline: embedding-cosine near-dup dedup — LSH bucket
    // pairs thresholded on cosine, collapsed to clusters (the embedding
    // flavor of q48; threshold tuned to this synthetic corpus's sim range) ----
    Query("q51_embedding_dedup", { (s, dir) =>
      val pairs = Similarity
        .lshCandidatePairs(Tables.embeddings(s, dir), dims = 64, nBits = 12, seed = 7L)
        .filter(col("sim") >= 0.2)
      Dedup.duplicateClustersLogN(pairs)
        .select(col("id").as("vec_id"), col("rep"))
        .orderBy("vec_id")
    }, oracle = _ => embeddingDedupOracleSql(dims = 64, nBits = 12, seed = 7L, maxBucket = 1000, minSim = 0.2)),
    // ---- the THIRD persisted-index dedup family (round 10): embedding
    // near-dup of a batch against the persisted IVF index — exact dedup
    // has the fingerprint index (q69), text near-dup the band index (q78),
    // this closes semantic near-dup with the same O(batch) directory-pruned
    // probe. The batch is half exact copies of resident vectors (new ids —
    // deterministically caught: an identical vector probes its twin's own
    // cell at sim 1.0) and half reversed embeddings (fresh ids, dup-ness
    // data-dependent, deliberately unasserted). Gate flags are the
    // defining equivalences, in-engine per the IVF family's adjudication:
    // subset_ok = every probe-reported dup re-scores >= threshold against
    // an INDEPENDENT quantization of the corpus TABLE (precision 1 — and
    // persisted lists ≡ recomputed corpus); copies_all_dup = the
    // deterministic recall half ----
    // q81: IVF-family envelope (the trained model is engine-internal, as
    // q64/q67/q70): n_batch is exact from the table; the equivalence flags
    // are computed in-engine against an independent re-quantization
    Query("q81_ivf_embedding_dedup", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val fixture = ensureAppendedIvfIndex(s, dir)
      val Big = 10000000L
      val copies = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + Big).as("vec_id"), col("embedding"))
      val novel = emb.filter(col("vec_id") % 7 === 3)
        .select((col("vec_id") + 2 * Big).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
      val batch = copies.unionByName(novel)
      val survivors = Similarity.dedupAgainstIvfIndex(
        s, fixture, batch, nProbe = 2, minSim = 0.95)
      val dupIds = batch.select("vec_id")
        .join(survivors.select("vec_id"), Seq("vec_id"), "left_anti")
      // independent brute recomputation from the corpus TABLE (not the
      // index files) under the same int8 quantization — bounded-broadcast
      // gate shape, as q28/q64's in-query baselines
      val corpusQ = emb.select(col("vec_id").as("c_id"),
        functions.Int8Ops.quantizeInt8Native(col("embedding")).as("c_qvec"))
      val bruteDupIds = batch
        .select(col("vec_id"), functions.Int8Ops.quantizeInt8Native(col("embedding")).as("b_qvec"))
        .crossJoin(broadcast(corpusQ))
        .withColumn("__s", functions.Int8Ops.cosineInt8Native(col("b_qvec"), col("c_qvec")))
        // same NaN-guard as dedupAgainstIvfIndex: a zero vector scores 0/0
        // = NaN against everything, and NaN >= threshold is TRUE under
        // Spark's ordering — the envelope must agree with the probe's gate
        .filter(col("__s") >= 0.95 && !isnan(col("__s")))
        .select("vec_id").distinct()
      val notInBrute = dupIds.join(bruteDupIds, Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("__n")).select(col("__n").as("__not_in_brute"))
      val copiesMissed = copies.select("vec_id")
        .join(dupIds, Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("__n")).select(col("__n").as("__copies_missed"))
      batch.agg(count(lit(1)).as("n_batch"))
        .crossJoin(notInBrute)
        .crossJoin(copiesMissed)
        .select(
          col("n_batch"),
          coalesce((col("__not_in_brute") === 0L).cast("long"), lit(0L)).as("subset_ok"),
          coalesce((col("__copies_missed") === 0L).cast("long"), lit(0L)).as("copies_all_dup"))
    }, oracle = _ => """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 7 = 0)
        |     + (SELECT COUNT(*) FROM embeddings WHERE vec_id % 7 = 3) AS BIGINT) AS n_batch,
        |  CAST(1 AS BIGINT) AS subset_ok,
        |  CAST(1 AS BIGINT) AS copies_all_dup""".stripMargin,
      fixtures = Seq(IvfAppendFixture)),
    // ---- LLM-pipeline: product-quantization ANN (the CAPACITY scale path
    // — 16 bytes per 64-dim vector vs 256 float / 64 int8; IVF-PQ is the
    // standard billion-scale ANN design). Everything is deterministic
    // (fixed-point Lloyd's, fixed-order IEEE kernels), so like q62/q64 the
    // gate is an ENVELOPE of exact 0/1 flags: results_ok (every query
    // returns exactly k rows ranked 1..k), recall_ok (ADC shortlist 10k +
    // exact re-rank clears 0.60 recall@10 vs the in-query float baseline —
    // measured 0.88/0.99/0.88 at sf0.001/0.01/0.1 (the synthetic
    // embeddings are near-uniform, PQ's hardest case; a broken code path
    // scores near random ≈ shortlist/corpus), distortion_ok (Lloyd's
    // improved on the init codebooks — the training-works assertion),
    // code_bytes exact ----
    // q90/q91: same envelope family as q64/q66 — the PQ pipeline is fully
    // deterministic (fixed-point Lloyd's + fixed-order IEEE kernels), so
    // every flag is an exact 0/1; code_bytes pins the 16-byte (16×, PqM=16)
    // representation the gate is actually exercising
    Query("q90_pq_ann", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val k = 10
      val queries = emb.filter(col("vec_id") < 10)
      val init = Pq.initCodebooks(emb, dims = 64, m = PqM, k = PqK)
      val model = Pq.train(emb, init, iters = PqIters)
      val distortionOk = {
        val (dm, di) = Pq.distortionPair(emb, model, init)
        dm <= di + 1e-9
      }
      // persisted like q64: the approx result feeds both the recall join
      // and the shape flags
      val approx = Pq.pqTopK(emb, queries, model, k = k, refine = 10 * k).persist()
      val exact = Similarity.bruteForceTopK(emb, queries, k)
        .select(col("query_id"), col("neighbor_id"))
      val hits = approx
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("__hits"))
      approx
        .groupBy("query_id")
        .agg(
          count(lit(1)).as("__n"),
          min(col("rank")).as("__rmin"),
          max(col("rank")).as("__rmax"))
        .agg(
          count(lit(1)).as("n_queries"),
          coalesce(
            (min(col("__n")) === k && max(col("__n")) === k &&
              min(col("__rmin")) === 1 && max(col("__rmax")) === k).cast("long"),
            lit(0L)).as("results_ok"))
        .crossJoin(hits)
        .select(
          col("n_queries"),
          col("results_ok"),
          coalesce(
            (col("__hits") * 10000L >= col("n_queries") * (k * 6000L)).cast("long"),
            lit(0L)).as("recall_ok"),
          lit(if (distortionOk) 1L else 0L).as("distortion_ok"),
          lit(PqM.toLong).as("code_bytes"))
    }, oracle = _ => """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(1 AS BIGINT) AS results_ok,
        |  CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(1 AS BIGINT) AS distortion_ok,
        |  CAST(16 AS BIGINT) AS code_bytes
        |FROM embeddings WHERE vec_id < 10""".stripMargin),
    // ---- the PRODUCTION PQ shape (q66's role for q90): codes-only ADC
    // scan + bounded exact re-rank, no training-baseline baggage — the
    // shape a serving tier runs per query batch once codebooks are
    // trained. Same envelope as q66 ----
    Query("q91_pq_production", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val k = 10
      val queries = emb.filter(col("vec_id") < 10)
      val model = Pq.train(emb, Pq.initCodebooks(emb, dims = 64, m = PqM, k = PqK), iters = PqIters)
      Pq.pqTopK(emb, queries, model, k = k, refine = 10 * k)
        .groupBy("query_id")
        .agg(
          count(lit(1)).as("__n"),
          min(col("rank")).as("__rmin"),
          max(col("rank")).as("__rmax"))
        .agg(
          count(lit(1)).as("n_queries"),
          coalesce(
            (min(col("__n")) === k && max(col("__n")) === k &&
              min(col("__rmin")) === 1 && max(col("__rmax")) === k).cast("long"),
            lit(0L)).as("results_ok"))
    }, oracle = _ => """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(1 AS BIGINT) AS results_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),
    // ---- the PERSISTED IVF-PQ index (q67's role for the PQ family): the
    // billion-scale composition — coarse cells directory-prune the scan,
    // m-byte PQ codes are all the lists store (16× smaller resident set
    // than float, 4× than the int8 index). Built once behind a stamp that
    // folds BOTH models' hyperparameters and scheme versions; served via
    // isin partition pruning + broadcast probes + the ADC kernel. Same
    // envelope as q67: any correct index returns the 3 queries' k results
    // ranked 1..k ----
    // q92: q67's envelope for the persisted IVF-PQ index
    Query("q92_ivf_pq_index_serve", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val k = 5
      val fixture = ensureIvfPqIndex(s, dir)
      Pq.queryIvfPqIndex(s, fixture, emb.filter(col("vec_id") < 3), nProbe = 3, k = k)
        .groupBy("query_id")
        .agg(
          count(lit(1)).as("__n"),
          min(col("rank")).as("__rmin"),
          max(col("rank")).as("__rmax"))
        .agg(
          count(lit(1)).as("n_queries"),
          coalesce(
            (min(col("__n")) === k && max(col("__n")) === k &&
              min(col("__rmin")) === 1 && max(col("__rmax")) === k).cast("long"),
            lit(0L)).as("results_ok"))
    }, oracle = _ => """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(1 AS BIGINT) AS results_ok
        |FROM embeddings WHERE vec_id < 3""".stripMargin,
      fixtures = Seq(IvfPqFixture)),
    // ---- the q79 monitor's contract for the PQ family: recall of the
    // nProbe-pruned serve vs the exhaustive ADC ranking over the SAME
    // index (both sides score codes, so this isolates the cell-pruning
    // loss — quantization loss is q90's gate). Fully deterministic
    // (frozen fixture models + ADC), so the envelope asserts exact flags:
    // probe-sample size, and a 0.50 recall floor with measured margin
    // (0.74/0.71/0.83 at sf0.001/0.01/0.1; a collapsed probe scores
    // ~nProbe/nCells = 0.25) ----
    // q93: q79's envelope for the PQ family's recall monitor
    Query("q93_ivf_pq_health", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val k = 10
      val fixture = ensureIvfPqIndex(s, dir)
      Pq.ivfPqIndexRecall(s, fixture, emb.filter(col("vec_id") < 10), nProbe = 4, k = k)
        .agg(
          count(lit(1)).as("n_queries"),
          coalesce(
            (sum(col("hits")) * 10000L >=
              count(lit(1)) * (k * 5000L)).cast("long"),
            lit(0L)).as("recall_ok"))
    }, oracle = _ => """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
      fixtures = Seq(IvfPqFixture)),
    // ---- LLM-pipeline: SemDeDup-style cluster-balanced sampling (round-11
    // verdict #8) — a fixed-size content-stable draw from EVERY semantic
    // cell of the persisted IVF index (q62 centroids + the q96 carve), the
    // diversity-balanced eval-set move. Cell assignment is read from the
    // index's inverted lists — the shared persisted artifact — so the
    // oracle reads the SAME lists parquet and re-derives the exact carve
    // (full value oracle, q96 family) ----
    // q100: the oracle reads the SAME persisted inverted lists the query
    // carves (shared artifact, like q70's append gate) and re-derives the
    // q96 hash-rank carve per cell — exact value oracle
    Query("q100_semantic_carve", { (s, dir) =>
      val fixture = ensureServedIvfIndex(s, dir)
      Sampling.semanticCarve(s, fixture, n = 10, salt = "semcarve-v1")
        .orderBy("cell_id", "vec_id")
    }, oracle = dir => s"""SELECT cell_id, vec_id FROM (
         |  SELECT CAST(cell_id AS BIGINT) AS cell_id, vec_id,
         |    row_number() OVER (PARTITION BY cell_id ORDER BY
         |      CAST(concat('0x', substring(md5(concat(CAST(vec_id AS VARCHAR), '#semcarve-v1')), 1, 15)) AS BIGINT),
         |      vec_id) AS rk
         |  FROM read_parquet('${Fixture.path(dir, "ivf_index")}/lists/*/*.parquet', hive_partitioning=1)
         |  WHERE vec_id IS NOT NULL) t
         |WHERE rk <= 10 ORDER BY cell_id, vec_id""".stripMargin,
      fixtures = Seq(IvfIndexFixture))
  )
}
