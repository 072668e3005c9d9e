package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector-similarity operators over `array<float>` embedding columns.
  *
  * All arithmetic is done in double via higher-order functions
  * (`zip_with` + `aggregate`) — codegen'd Catalyst expressions, no UDF.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** cos(a,b) = dot / (‖a‖·‖b‖) — factored exactly as sqrt(na)*sqrt(nb) to
    * bit-match the DuckDB oracle's list_cosine_similarity formula.
    *
    * HOF composition kept as the portable reference; the hot paths below
    * use [[CosineSimilarity.cosineNative]], a codegen'd Catalyst expression
    * with the identical arithmetic (bit-equal results, ~10× faster).
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k cosine neighbors of each query vector.
    *
    * Scale design: `queries` is small (a probe set) and is broadcast — the
    * plan is a BroadcastNestedLoopJoin against the full corpus, i.e. one pass
    * over the big side with no shuffle of it; then a per-query top-k via
    * window over (query) keys, which shuffles only (nQueries × corpus)
    * score rows. For corpus-×-corpus joins use [[lshBuckets]] first to cut
    * the candidate space.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    // scores are projected down to (query_id, vec_id, sim) BEFORE the top-k
    // window, so the per-query exchange carries scores, not embeddings
    Ivf.topK(Ivf.scoreAll(corpus, VecCodec.Float.bind(queries, "vec_id", "embedding")), k)

  /** Brute-force top-k over int8-QUANTIZED vectors ([[Int8Ops]]) — the
    * memory-bandwidth scale path: the corpus-resident vector set shrinks 4×
    * (64 bytes vs 256 per 64-dim vector), which at 100 TB is the difference
    * between a cached ANN working set and a spilling one. Per-vector
    * max-abs quantization preserves cosine ordering up to quantization
    * error (cosine is scale-invariant). Same no-payload-exchange shape as
    * [[bruteForceTopK]]: queries broadcast, scores projected narrow before
    * the per-query top-k window.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    Ivf.topK(Ivf.scoreAll(Ivf.encoded(corpus, VecCodec.Int8),
      VecCodec.Int8.bind(queries, "vec_id", "embedding")), k)

  /** IVF-style ANN: coarse-quantize the corpus into `nCells` inverted
    * lists, probe the `nProbe` closest cells per query, exact-rank only
    * those candidates. Centroids are deterministic exemplars (the first
    * `nCells` vectors) rather than trained k-means, so results are exactly
    * reproducible in the SQL oracle; swap the `cents` relation for trained
    * centroids and nothing else changes.
    *
    * Scale shape: assignment is corpus × broadcast(centroids) — one linear
    * pass, no corpus shuffle; search touches only nProbe/nCells of the
    * corpus per query (the IVF speedup), then a per-query top-k via
    * WindowGroupLimit.
    */
  /** A model vector as ONE ArrayType literal, not `array(lit, lit, …)`:
    * primitive literals are inlined into the generated SOURCE TEXT, so a
    * k×dims centroid ladder bakes hundreds of floats into the code and
    * every retrained model (every Lloyd iteration, every query, every
    * bench pass) produces DIFFERENT source — a guaranteed janino
    * recompile. An ArrayData literal rides the codegen references array
    * (`ctx.addReferenceObj`), so the source is value-independent and the
    * whole ANN/k-means family compiles once per SHAPE, not once per
    * model (r17: the kmeans/IVF/int8 queries were recompiling 3-6 stages
    * per run). Values are bit-identical — same floats, same expression.
    */
  private[functions] def litVec(v: Array[Float]): Column = lit(v)

  /** Zero-shuffle nearest-centroid assignment: an argmax ladder of
    * codegen'd cosine scores via `greatest` over (csim, −cell_id) structs —
    * lexicographic max = (highest csim, then lowest cell id), the same
    * tiebreak as an ORDER BY csim DESC, cell_id window, evaluated as a
    * pure per-row expression inside the scan. Centroids are model
    * parameters (k × dims floats), inlined as literal arrays.
    */
  def nearestCentroid(emb: Column, centroids: Array[(Long, Array[Float])]): Column = {
    require(centroids.nonEmpty, "nearestCentroid needs at least one centroid")
    // `greatest` requires ≥ 2 arguments — with a single centroid (k=1
    // k-means, nCells=1 IVF) the assignment is that centroid, no argmax
    if (centroids.length == 1) lit(centroids.head._1)
    else {
      val cellScores = centroids.map { case (cellId, vec) =>
        struct(
          CosineSimilarity.cosineNative(emb, litVec(vec)).as("s"),
          lit(-cellId).as("nid"))
      }
      -greatest(cellScores: _*).getField("nid")
    }
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, nCells: Int, nProbe: Int, k: Int): DataFrame = {
    // exemplar centroids: the nCells lowest-id vectors (deterministic, so
    // the SQL oracle reproduces them); swap for [[kmeansCentroids]] output
    // via [[ivfTopKWithCentroids]] with no other change.
    // orderBy+limit, NOT `vec_id < nCells`: the filter form assumed a
    // dense 0-based id space — 1-based ids would silently yield one
    // exemplar too few, and offset/hashed id spaces zero exemplars
    // (aborting on nearestCentroid's require) — review finding; same
    // expression kmeansCentroids' init already uses. Identical output on
    // dense 0-based ids, so the SQL oracles are unchanged.
    val exemplars: Array[Array[Float]] = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id"))
      .limit(nCells)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).toArray)
    ivfTopKWithCentroids(corpus, queries, exemplars, nProbe, k)
  }

  /** [[ivfTopK]] with a caller-supplied centroid model (typically
    * [[kmeansCentroids]] output) — cell ids are centroid indices, which is
    * internal bookkeeping only: the output carries (query_id, neighbor_id,
    * sim, rank) regardless of the id scheme.
    */
  def ivfTopKWithCentroids(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      nProbe: Int,
      k: Int): DataFrame =
    ivfInMemory(VecCodec.Float, corpus, queries, centroids, nProbe, k)

  /** Trained-centroid IVF over INT8-QUANTIZED inverted lists — the
    * composition a corpus-scale similarity search actually runs, and the
    * 100 TB shape of this module: [[kmeansCentroids]] trains the coarse
    * quantizer (model = k × dims floats on the driver), the corpus is
    * assigned to cells with the zero-shuffle [[nearestCentroid]] ladder and
    * stored QUANTIZED ([[Int8Ops.quantizeInt8Native]] — the resident list
    * payload shrinks 4×, the difference between a cached ANN working set
    * and a spilling one), queries probe their `nProbe` closest cells, and
    * only those cells' candidates are ranked with the integer-exact
    * [[Int8Cosine]].
    *
    * Scale shape, stage by stage, is the [[Ivf]] core's: one linear list
    * build in the scan, model-sized probing, probes broadcast UNDER the
    * lists (each query touches ~nProbe/nCells of the corpus, which is
    * never shuffled), and a top-k whose only exchange carries 20-byte
    * score rows.
    *
    * Exactness note: scores are [[Int8Cosine]] over [[QuantizeInt8]] pairs
    * — integer dot/norm sums (exact in any order) with one final
    * sqrt+division, so ranking is deterministic given the lists; the
    * TRAINED centroids are float-ulp partition-order sensitive, which is
    * why q64 gates this through a recall envelope rather than row equality.
    */
  def ivfInt8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      nProbe: Int,
      k: Int): DataFrame =
    ivfInMemory(VecCodec.Int8, corpus, queries, centroids, nProbe, k)

  /** The in-memory IVF composition of [[ivfTopKWithCentroids]] (float lists)
    * and [[ivfInt8TopK]] (int8 lists): lists built in the scan, probes over
    * the local centroid relation, probed cells scored, per-query top-k. */
  private def ivfInMemory(
      codec: VecCodec,
      corpus: DataFrame,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      nProbe: Int,
      k: Int): DataFrame = {
    val kit = codec.bind(queries, "vec_id", "embedding")
    val probes = Ivf.probes(kit, Ivf.cells(corpus.sparkSession, centroids), nProbe)
    Ivf.topK(Ivf.scoreProbed(Ivf.listRows(corpus, codec, centroids), probes, kit), k)
  }

  /** Persist an IVF-int8 index: the [[ivfInt8TopK]] inverted lists written
    * as a `cell_id`-PARTITIONED parquet table plus the centroid model as a
    * tiny sibling table. This is the serving half of the 100 TB story —
    * training and quantization are paid ONCE, and every query batch after
    * that reads only its probed cells' directories (Catalyst
    * PartitionFilters — the scan never touches the other cells' files).
    *
    * Layout: `<path>/lists/cell_id=N/…` (vec_id, qvec) and
    * `<path>/cells` (cell_id, cell_vec).
    */
  def writeIvfIndex(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      path: String): Unit =
    Ivf.write(corpus, centroids, VecCodec.Int8, path)

  /** True when a READABLE [[writeIvfIndex]] index exists at `path`: both
    * subtables hold at least one COMMITTED parquet data file (`cells` at its
    * root, `lists` inside some `cell_id=N` directory). Callers deciding
    * bootstrap-vs-probe must use this, never bare `fs.exists(path/cells)` —
    * the same round-9 hardening the generational dedup indexes got
    * ([[graft.functions.Dedup.fingerprintIndexReadable]]): a build that
    * crashed mid-`cells`-write leaves the directory visible with only a
    * `_temporary` attempt inside, and a replay that takes the probe path on
    * that debris throws on the data-less read and crash-loops every
    * subsequent replay. A data-less root reads as bootstrap instead, and
    * [[writeIvfIndex]]'s `overwrite` sweeps the debris on rebuild. (`cells`
    * is written LAST, so `cells`-has-data also implies the lists job
    * committed; the `lists` leg guards a hand-rolled or torn layout.)
    */
  def ivfIndexReadable(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val fs = IndexProtocol.fileSystem(spark, path)
    // top-level detection on purpose, both legs: a crashed un-staged write
    // leaves only `_temporary` debris, which must read as bootstrap — the
    // contract documented at [[IndexProtocol.hasTopLevelParquet]]
    def listsHaveData: Boolean = {
      val lists = new org.apache.hadoop.fs.Path(s"$path/lists")
      fs.exists(lists) && fs.listStatus(lists)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell_id="))
        .exists(st => IndexProtocol.hasTopLevelParquet(fs, st.getPath))
    }
    IndexProtocol.hasTopLevelParquet(
      fs, new org.apache.hadoop.fs.Path(s"$path/cells")) && listsHaveData
  }

  /** Load a persisted index's centroid model, ordered by cell id — k × dims
    * floats, the documented bounded-collect contract (model parameters, not
    * data). Returned in [[ivfInt8TopK]]'s positional form: element i is the
    * centroid whose inverted list is `cell_id=i`.
    */
  def readIvfCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Float]] =
    graft.sources.Tables.parquetScan(spark, s"$path/cells").orderBy("cell_id")
      .select("cell_vec").collect().map(_.getSeq[Float](0).toArray)

  /** Append a NEW embedding batch to a persisted [[writeIvfIndex]] index —
    * the incremental growth path a real corpus needs: the batch is assigned
    * to the index's PERSISTED centroids (no retrain — the model is the
    * index's identity; retraining would orphan every already-quantized
    * list) and its quantized rows land in the existing `cell_id=N`
    * directories via parquet append. Cost is one linear pass over the
    * batch; the history lists are never read, never rewritten.
    *
    * Serving afterwards is EXACTLY equivalent to serving an index rebuilt
    * from scratch over (old corpus ∪ batch) with the same centroids:
    * assignment, quantization and int8 scoring are all deterministic given
    * the model, and ranking ties break on vec_id (spec:
    * `SimilaritySpec` "appendToIvfIndex"). The caller owns re-stamping its
    * fixture after a successful append, as with the fingerprint index.
    *
    * At-least-once safe: a crashed-and-replayed append duplicates list rows,
    * which [[queryIvfIndex]] absorbs (distinct over its deterministic narrow
    * score rows) — so an ingest loop (IngestPipeline) may replay this write
    * in its crash window without corrupting served results.
    */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newBatch: DataFrame): Unit =
    Ivf.append(spark, path, VecCodec.Int8, newBatch)

  /** Fold each inverted-list cell directory of a persisted [[writeIvfIndex]]
    * index into `targetRecordsPerFile`-sized files. [[appendToIvfIndex]]
    * deliberately never rewrites history — the price is one file set per
    * append per touched cell, which at an ingest loop's per-minute cadence
    * is the same ~525k-files/year listing-cost cliff the doc lake's
    * compaction answers; this is that answer for the index.
    *
    * Per-cell [[graft.sinks.Sinks.compactLakePartition]]: cost is O(cell),
    * each swap is the two-rename crash-safe protocol, and cells below
    * `minFilesToCompact` data files are skipped so a maintenance cadence
    * doesn't rewrite already-compact cells. Duplicate list rows from a
    * crashed append are preserved as-is — [[queryIvfIndex]]'s distinct
    * absorbs them before and after the fold alike, so folding commutes
    * with serving (spec: `SimilaritySpec`). Single-writer contract: don't
    * fold concurrently with an appender; the ingest loop runs this from
    * its own maintenance cadence.
    */
  def compactIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetRecordsPerFile: Long = 1000000L,
      minFilesToCompact: Int = 2): Unit = {
    val lists = s"$path/lists"
    val fs = IndexProtocol.fileSystem(spark, lists)
    val listsP = new org.apache.hadoop.fs.Path(lists)
    if (!fs.exists(listsP)) return
    graft.sinks.Sinks.recoverPartitions(spark, lists)
    fs.listStatus(listsP).map(_.getPath)
      .filter(_.getName.startsWith("cell_id=")).foreach { cell =>
        val dataFiles = fs.listStatus(cell).count(_.getPath.getName.endsWith(".parquet"))
        if (dataFiles >= minFilesToCompact)
          graft.sinks.Sinks.compactLakePartition(
            spark, lists, "cell_id", cell.getName.drop("cell_id=".length),
            targetRecordsPerFile)
      }
  }

  /** Serve top-k ANN from a persisted [[writeIvfIndex]] index: the
    * DISTINCT probed cell ids (≤ nQueries × nProbe) become an `isin`
    * partition predicate on the lists table, so the scan physically selects
    * only the probed directories (plan-asserted in PlanAuditSpec); ranking
    * is the same broadcast-probe + narrow-score shape as [[ivfInt8TopK]].
    */
  def queryIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      nProbe: Int,
      k: Int): DataFrame =
    Ivf.topK(ivfIndexProbeScores(spark, path, queries, nProbe), k)

  /** Shared probe core of [[queryIvfIndex]] and [[dedupAgainstIvfIndex]]:
    * assign each query its nProbe nearest cells against the persisted
    * centroid model, directory-prune the lists scan to the DISTINCT probed
    * cells, and score every resident of those cells — (query_id, vec_id,
    * sim), self-pairs excluded, exact duplicates from a crashed append
    * absorbed. Scores are RAW doubles; rounding policy belongs to the
    * consumers (serve rounds for display, dedup thresholds on the raw
    * value so the decision has no second rounding boundary).
    */
  def ivfIndexProbeScores(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      nProbe: Int): DataFrame =
    Ivf.probeScores(spark, path, VecCodec.Int8.bind(queries, "vec_id", "embedding"), nProbe)

  /** Embedding near-duplicate dedup of a batch against a persisted
    * [[writeIvfIndex]] index — the third persisted-index dedup family,
    * completing exact (fingerprint index) and text near-dup (MinHash band
    * index): a batch vector is a duplicate when ANY resident of its nProbe
    * probed cells scores int8-cosine ≥ `minSim`; survivors are the batch
    * rows with no such hit.
    *
    * O(batch) by the same construction as [[queryIvfIndex]]: the centroid
    * model is a bounded driver-side collect, the lists scan is
    * directory-pruned to the batch's probed cells, the per-cell scoring
    * joins a BROADCAST probe table, and the final decision is a broadcast
    * left-anti join of the batch against the (≤ batch-sized) distinct hit
    * ids. The index is never scanned beyond the probed cells and never
    * shuffled.
    *
    * APPROXIMATE by the IVF contract, in one direction only: a true
    * near-duplicate assigned to a cell outside the batch vector's probe
    * set is missed (recall < 1), but every reported duplicate really
    * scored ≥ `minSim` (precision = 1 under int8 quantization). Raising
    * `nProbe` trades cost for recall, exactly as in serving; the q79
    * health monitor's recall re-gate covers this probe the same way it
    * covers serve.
    *
    * The ENTIRE batch id set is excluded from collisions, not just
    * self-pairs — the same contract as the band probe
    * ([[graft.functions.Dedup.dedupAgainstBandIndex]]): duplicates are
    * HISTORY-only, intra-batch near-pairs both survive. This is what makes
    * a crash-replayed ingest cycle acceptance-identical: a crashed attempt
    * may have already appended the batch's OWN vectors to the index, and
    * with only self-pairs excluded, two mutually-similar batch docs would
    * each find the other's published vector on replay and BOTH would drop —
    * the replay would land a smaller accepted set than the crashed attempt
    * wrote (its lake overwrite loses the pair forever while their orphan
    * vectors keep blocking re-entry).
    *
    * Returns the SURVIVOR rows of `batch` (all its columns).
    */
  def dedupAgainstIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      nProbe: Int,
      minSim: Double,
      idCol: String = "vec_id"): DataFrame = {
    val batchIds = batch.select(col(idCol).as("vec_id"))
    val dupIds = ivfIndexProbeScores(spark, path, batch.select(col(idCol).as("vec_id"), col("embedding")), nProbe)
      // exclude hits on the batch's own (possibly crash-published) vectors —
      // scored rows carry the RESIDENT's id as vec_id, so an anti-join on
      // the (batch-sized, broadcastable) id set removes them all
      .join(broadcast(batchIds), Seq("vec_id"), "left_anti")
      // NaN-guard: an all-zero vector (failed/padded embedding) quantizes
      // to all-zero int8 and cosine_int8 returns 0/0 = NaN — and Spark
      // orders NaN ABOVE every double, so `NaN >= minSim` is TRUE. Without
      // the guard one zero-vector resident in a probed cell marks every
      // probing batch doc a duplicate (whole batches silently dropped) and
      // a zero-vector batch doc "matches" anything (review finding). A NaN
      // score carries no similarity evidence → never a duplicate.
      .filter(col("sim") >= minSim && !isnan(col("sim")))
      .select(col("query_id").as(idCol))
      .distinct()
    batch.join(broadcast(dupIds), Seq(idCol), "left_anti")
  }

  /** Sampled recall re-gate of a persisted (typically GROWN) index: for
    * each probe query, the overlap between [[queryIvfIndex]]'s top-k and an
    * exhaustive int8 ranking over the index's OWN resident vectors (all
    * cells, no probe pruning — the ground truth the IVF approximation
    * forgoes). Output: (query_id, hits) with hits = |served ∩ exhaustive|
    * ∈ [0, k]; callers aggregate to recall@k.
    *
    * This is the drift monitor frozen centroids need: [[appendToIvfIndex]]
    * assigns every future batch to centroids trained once, and a drifting
    * corpus concentrates appends into few cells — probe cost creeps toward
    * O(corpus) while recall against the TRUE neighbors sags, invisibly to
    * the model's own training-time gate. Cheap by construction: one pass
    * over the (quantized, 4×-smaller) lists per probe batch, scores
    * projected narrow before the top-k exchanges; run it on the q64 gate's
    * cadence (sampled queries, maintenance windows, not per-serve). When
    * it trips, [[migrateIvfIndex]] is the repair.
    *
    * Both rankings are deterministic given the index (integer scoring,
    * vec_id tiebreaks), so the result is exactly reproducible — the
    * at-least-once duplicate absorber (distinct) applies to both sides.
    */
  def ivfIndexRecall(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      nProbe: Int,
      k: Int): DataFrame =
    Ivf.recall(spark, path, VecCodec.Int8, queries, nProbe, k)

  /** Re-index migration for when the drift monitor trips: train NEW
    * centroids on the caller-supplied corpus (the float vectors — the index
    * stores only int8, so re-quantization must start from the source),
    * build the replacement index ALONGSIDE the serving one, and swap it in
    * with the two-rename crash-safe [[graft.sinks.Sinks.replaceTable]].
    * The old index (centroids + all lists) is discarded wholesale — frozen
    * centroids are the index's identity, so a retrain orphans every
    * existing list by definition; this is the one operation allowed to pay
    * the O(corpus) rebuild, in exchange for resetting the append path's
    * drift debt to zero.
    *
    * Crash windows: before the swap, the serving index is untouched (the
    * staged `__next` is orphaned and overwritten by the next attempt);
    * between the swap's renames, the index is parked at `<path>__old` —
    * [[graft.sinks.Sinks.recoverTable]] restores it (the ingest loop runs
    * that on startup). Single-writer contract as ever: no appends during the
    * migration. The caller re-stamps its fixture after success, as with
    * every persisted index.
    */
  def migrateIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      corpus: DataFrame,
      k: Int,
      iters: Int): Unit =
    graft.sinks.Sinks.replaceTable(spark, path) { next =>
      writeIvfIndex(corpus, kmeansCentroids(corpus, k = k, iters = iters), next)
    }

  /** SPHERICAL Lloyd's k-means over embedding vectors — the
    * trained-centroid companion to [[ivfTopK]] (whose exemplar centroids
    * are swappable for these with no other change). Init = the k lowest-id
    * vectors; each iteration assigns every row with the zero-shuffle
    * [[nearestCentroid]] ladder, then updates each centroid to the mean of
    * its members' UNIT-NORMALIZED vectors — a `posexplode` into narrow
    * (cell, dim, v) rows and one two-phase aggregate whose k × dims result
    * collects to the driver as the next model.
    *
    * Why normalize before the mean: the assignment metric is COSINE, and
    * for fixed assignments Σᵢ cos(xᵢ, c) = (Σᵢ xᵢ/‖xᵢ‖)·c/‖c‖ is maximized
    * over the direction of c by any positive multiple of mean(xᵢ/‖xᵢ‖) —
    * so assignment and update BOTH monotonically non-decrease Σ cos, which
    * is exactly the inertia-monotonicity contract the q62 gate asserts.
    * The raw-vector mean (the squared-Euclidean optimizer) does NOT carry
    * that guarantee under varying-norm embeddings: a Lloyd's step could
    * increase cosine inertia and flip the gate on a correct trainer.
    * (Re-normalizing the new centroid is unnecessary — cosine is
    * scale-invariant in the centroid.)
    *
    * Degenerate members: zero vectors have no direction and are excluded
    * from the update (they cosine-score NaN everywhere and never move a
    * mean meaningfully); a cell whose members' unit vectors sum to exactly
    * zero (perfectly opposing pairs) keeps its previous centroid, like an
    * emptied cell.
    *
    * DETERMINISM (round-10, the q79 root cause): the update accumulates
    * each unit-normalized component as a FIXED-POINT long (component ×
    * 10⁸, rounded per row) and sums longs — long addition is exactly
    * associative/commutative, so the trained model is bit-identical under
    * ANY partitioning, thread count, or partial-aggregate merge order.
    * The previous double `sum` made every rebuild a slightly different
    * model (partial sums merge in completion order), which meant an index
    * fixture rebuilt in a different environment could serve different
    * cell assignments — and a recall gate measured against it could flip.
    * Quantizing at 1e-8 is below float32's own resolution for unit-vector
    * components, so model quality is unaffected; the long sum overflows
    * only past ~9×10¹⁰ members per (cell, dim), far beyond any real cell
    * (and a 100 TB trainer samples its training slice anyway).
    * [[KmeansVersion]] names this accumulation scheme so index fixture
    * stamps can fold it in and rebuild stale float-summed models.
    */
  def kmeansCentroids(
      corpus: DataFrame,
      k: Int,
      iters: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Array[Array[Float]] = {
    var cents: Array[Array[Float]] = corpus
      .orderBy(idCol).limit(k)
      .select(embCol).collect().map(_.getSeq[Float](0).toArray)
    for (_ <- 0 until iters) {
      val nrm = norm(col(embCol))
      val stats = corpus
        .withColumn("cell_id", nearestCentroid(col(embCol), Ivf.indexed(cents)))
        .filter(nrm > 0)
        .select(col("cell_id"),
          posexplode(transform(col(embCol),
            x => round(x.cast("double") / nrm * KmeansScale).cast("long")))
            .as(Seq("dim", "v")))
        .groupBy("cell_id", "dim")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      val sums = stats.groupBy(_.getLong(0).toInt)
      sums.foreach { case (cell, rows) =>
        // all-dims-zero mean = no direction information; keep the previous
        // centroid for this cell (same policy as an emptied cell)
        if (rows.exists(_.getLong(2) != 0L)) {
          rows.foreach { r =>
            next(cell)(r.getInt(1)) =
              (r.getLong(2).toDouble / KmeansScale / r.getLong(3)).toFloat
          }
        }
      }
      cents = next
    }
    cents
  }

  /** Fixed-point scale for the [[kmeansCentroids]] update accumulator:
    * unit-vector components quantize to 1e-8 (below float32 resolution),
    * and the exact long sum overflows only past ~9×10¹⁰ cell members.
    */
  val KmeansScale: Long = 100000000L

  /** Names the centroid-accumulation scheme; index fixture stamps fold
    * this in so a model trained under the pre-round-10 float summation is
    * rebuilt rather than served (see the determinism note on
    * [[kmeansCentroids]]).
    */
  val KmeansVersion = "kmeans-fx8-v2"

  /** Assignment table for trained centroids: (idCol, cell_id). */
  def kmeansAssign(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), nearestCentroid(col(embCol), Ivf.indexed(centroids)).as("cell_id"))

  /** Cosine inertia of a centroid model over a corpus:
    * Σ (1 − cos(v, centroid(v))) with each row scored against its OWN
    * nearest centroid. One linear pass — assignment is the zero-shuffle
    * [[nearestCentroid]] ladder, and the per-row score reuses the same
    * argmax structs' `s` field shape via a second cosine against the
    * assigned centroid inlined from the (k × dims) model. The result is a
    * model-quality scalar (Lloyd's iterations must not increase it), used
    * by the q62 gate to assert training actually improved the model.
    */
  def kmeansInertia(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      embCol: String = "embedding"): Double =
    corpus
      .agg(sum(lit(1.0) - bestCosine(col(embCol), centroids)).as("inertia"))
      .head().getDouble(0)

  /** Each row's cosine to its nearest centroid — the score half of the
    * [[nearestCentroid]] argmax ladder (same `greatest` shape, keeping the
    * score instead of the id). Pure per-row codegen over the inlined
    * (k × dims) model; q62 builds both its trained- and init-model inertia
    * sums from this in ONE corpus pass, as plan-visible aggregates.
    */
  def bestCosine(emb: Column, centroids: Array[Array[Float]]): Column =
    if (centroids.length == 1) CosineSimilarity.cosineNative(emb, litVec(centroids.head))
    else greatest(centroids.map(v => CosineSimilarity.cosineNative(emb, litVec(v))): _*)

  /** Deterministic random-hyperplane (SimHash) LSH bucket id: `nBits` sign
    * bits of projections onto pseudo-random hyperplanes derived from a seed.
    *
    * The hyperplane coefficients come from a splitmix-ish integer hash of
    * (seed, bit, dim) — computed as literal arrays on the driver, broadcast
    * in the plan as constants. Same-bucket vectors are ANN candidates: the
    * corpus-×-corpus join becomes a per-bucket equi-join (shuffle on bucket
    * id) instead of a full cross join — the 100 TB-safe path.
    */
  /** The hyperplane coefficient's dyadic mantissa for (bit, dim): an
    * integer m < 2^53 such that coeff = m / 2^52 − 1 ∈ [−1, 1) — both steps
    * exact in binary floating point, so any engine reproduces the
    * coefficient bit-for-bit from the integer. Exposed for the SQL oracle
    * generator.
    */
  def lshCoeffMantissa(bit: Int, d: Int, seed: Long): Long = {
    var z = seed + bit * 0x9E3779B97F4A7C15L + d * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    z >>> 11
  }

  def lshBucket(vec: Column, dims: Int, nBits: Int, seed: Long): Column = {
    def coeff(bit: Int, d: Int): Double =
      lshCoeffMantissa(bit, d, seed).toDouble / (1L << 52).toDouble - 1.0
    val bits = (0 until nBits).map { b =>
      // ONE ArrayType literal per plane (see [[litVec]]): the coefficients
      // are seed-stable, but inlining nBits×dims doubles into the source
      // made the first compile of every consumer slow and cache-hungry.
      val plane = lit((0 until dims).map(d => coeff(b, d)).toArray)
      // native codegen'd projection: nBits dots per corpus row through the
      // interpreted zip_with/aggregate lambdas was a corpus-scale HOF pass
      when(DotProduct.dotNative(vec, plane) >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Bucketed ANN self-join: candidates = pairs sharing an LSH bucket.
    *
    * Scale shape: the per-bucket self-join carries ONLY (bucket, vec_id) —
    * embedding payloads are re-attached by id join for the final cosine
    * re-rank, so the only exchanges moving vectors are that re-rank's.
    * Buckets larger than `maxBucketSize` are excluded from pair generation:
    * a hot bucket is quadratic (a near-duplicate cluster of 10^5 docs is
    * 10^10 pairs), and such clusters are the province of the exact-dedup
    * pass ([[Dedup.exactGroups]]) run before ANN, not of pairwise scoring.
    * The bucket-size relation is tiny (≤ 2^nBits rows) and broadcasts.
    */
  def lshCandidatePairs(
      corpus: DataFrame,
      dims: Int,
      nBits: Int,
      seed: Long,
      maxBucketSize: Int = 1000): DataFrame = {
    // the bucket projection (nBits native dot products per corpus row)
    // feeds FOUR plan branches (the bucket-size aggregate, its join, and
    // both pair-join legs) — pin it so it computes once. localCheckpoint,
    // not persist: this returns a lazy result, so a persist would leak a
    // CacheManager entry per call (see [[graft.functions.Dedup
    // .minhashCandidates]], same shape, same review finding); checkpoint
    // blocks are RDD-owned and ContextCleaner-reclaimed.
    val ids = corpus.select(
      col("vec_id"), lshBucket(col("embedding"), dims, nBits, seed).as("bucket"))
      .localCheckpoint(false)
    val smallBuckets = ids.groupBy("bucket")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
      .select("bucket")
    val filtered = ids.join(broadcast(smallBuckets), Seq("bucket"))
    // one bucket per vector, so same-bucket pairs are already unique — no
    // distinct pass needed (unlike multi-band MinHash)
    val pairs = filtered.select(col("bucket"), col("vec_id").as("a_id"))
      .join(filtered.select(col("bucket"), col("vec_id").as("b_id")), Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val vecs = corpus.select(col("vec_id"), col("embedding"))
    pairs
      .join(vecs.select(col("vec_id").as("a_id"), col("embedding").as("a_vec")), Seq("a_id"))
      .join(vecs.select(col("vec_id").as("b_id"), col("embedding").as("b_vec")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(CosineSimilarity.cosineNative(col("a_vec"), col("b_vec")), 4).as("sim"))
  }
}
