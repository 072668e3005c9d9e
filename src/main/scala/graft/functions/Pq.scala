package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType}

/** Product quantization (PQ) — the CAPACITY lever for ANN at corpus scale,
  * complementing [[Int8Ops]]'s 4× bandwidth lever: a D-dim float vector
  * (D×4 bytes) is split into `m` contiguous subvectors, each replaced by
  * the index of its nearest entry in a per-subspace codebook of `k`
  * centroids, leaving `m` BYTES per vector (32× for D=64, m=8). At 100 TB
  * of embeddings that is the difference between an in-memory candidate
  * set and one that cannot even be scanned: the IVF-PQ composition
  * (coarse cells + PQ codes in the inverted lists) is the standard
  * billion-scale design (Jégou, Douze, Schmid: "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011).
  *
  * Search is asymmetric distance computation (ADC): per query, ONE
  * (m × k) lookup table of query-subvector · codebook-entry dot products
  * is built on the driver (m·k·(D/m) = k·D multiplies — independent of
  * corpus size), and each corpus vector's approximate score is `m` table
  * lookups instead of D multiplies. The codes-only scan never touches
  * the original float vectors; an optional exact re-rank fetches just
  * the top shortlist rows' vectors (O(queries × shortlist), not
  * O(corpus)) — the production serving shape.
  *
  * All three per-row kernels are native codegen expressions for the same
  * reason as [[Int8Ops]]/[[CosineSimilarity]]: Spark's higher-order array
  * functions evaluate interpreted, and encode/score are corpus-scale
  * passes. Codebooks and LUTs are model PARAMETERS (k·D floats — a few
  * KB), shipped into the generated code as reference objects, never
  * joined.
  *
  * DETERMINISM: training accumulates each subvector component as a
  * FIXED-POINT long (component × 1e8, rounded per row; same scheme and
  * rationale as `Similarity.kmeansCentroids`, the q79 root-cause fix),
  * so the trained codebooks are bit-identical under any partitioning or
  * merge order; encode/ADC evaluate a fixed-order IEEE loop per row.
  * The whole PQ pipeline is therefore exactly reproducible, which is
  * what lets the q90/q91 envelope gates assert deterministic 0/1 flags.
  *
  * Edge conventions (shared with the other vector kernels): a vector
  * SHORTER than the model dimension is scored as zero-padded (missing
  * components contribute (0−c)² to encode distances); longer vectors
  * ignore the extra dims; null arrays propagate null; the all-zero
  * vector encodes to each subspace's smallest-norm entry and scores
  * normally (its reconstruction is generally non-zero); a zero-norm
  * QUERY scores NaN everywhere, ranking first in both engines' windows
  * (same convention as [[CosineSimilarity]], pinned in the spec).
  */
object Pq {

  /** Fixed-point scale for the training accumulator — see
    * `Similarity.KmeansScale` (same scheme: 1e-8 quantization is below
    * float32 resolution; the long sum overflows only past ~9×10¹⁰
    * members per (subspace, code, dim)).
    */
  val Scale: Long = 100000000L

  /** Names the codebook-training scheme (squared-Euclidean Lloyd's,
    * fixed-point ×1e8 long accumulation, first-k init); persisted-index
    * stamps must fold this in so codes written under one scheme are never
    * served under another.
    */
  val PqVersion = "pq-l2-fx8-v1"

  /** A trained PQ model: `m` codebooks of `k` entries over `dims/m`-dim
    * subspaces, flattened as `codebooks[((mi*k)+ki)*subDim + d]`.
    */
  case class PqModel(dims: Int, m: Int, k: Int, codebooks: Array[Float]) {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    require(k >= 1 && k <= 256, s"k=$k codes must fit one byte (1..256)")
    val subDim: Int = dims / m
    require(codebooks.length == m * k * subDim,
      s"codebook length ${codebooks.length} != m*k*subDim = ${m * k * subDim}")
  }

  /** Deterministic init (mirrors `kmeansCentroids`): the `k` lowest-id
    * vectors, each sliced into its m subvectors — every subspace codebook
    * starts from the same k exemplar rows.
    */
  def initCodebooks(
      corpus: DataFrame,
      dims: Int,
      m: Int,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): PqModel = {
    val subDim = dims / m
    val seed = corpus
      .orderBy(idCol).limit(k)
      .select(embCol).collect().map(_.getSeq[Float](0).toArray)
    require(seed.length == k, s"corpus has ${seed.length} rows < k=$k codes")
    val flat = new Array[Float](m * k * subDim)
    for (mi <- 0 until m; ki <- 0 until k; d <- 0 until subDim) {
      val src = mi * subDim + d
      flat(((mi * k) + ki) * subDim + d) =
        if (src < seed(ki).length) seed(ki)(src) else 0.0f
    }
    PqModel(dims, m, k, flat)
  }

  /** Lloyd's iterations over every subspace at once — ONE Spark action per
    * iteration: assign codes with the current model (the [[PqEncode]]
    * kernel, inside the scan's codegen stage), explode components to
    * (subspace, code, dim) cells, and sum fixed-point longs. The collect
    * is m·k·subDim = k·dims cells max (model-sized, not corpus-sized).
    * Squared-Euclidean updates (the subvector mean) are the PQ objective —
    * unlike the cosine trainer, subvector NORMS carry signal here.
    * An emptied code keeps its previous entry (same policy as kmeans).
    */
  def train(
      corpus: DataFrame,
      init: PqModel,
      iters: Int,
      embCol: String = "embedding"): PqModel = {
    var cur = init
    val subDim = init.subDim
    for (_ <- 0 until iters) {
      val stats = corpus
        // the update averages FULL-dimension members only: a short vector's
        // posexplode emits no rows for its missing components, so including
        // it would count its zero-padding in assignment but not in the mean
        // — the update would no longer be the Lloyd's minimizer of the
        // encode objective (short vectors still ENCODE, zero-padded, they
        // just don't move codebook entries — the emptied-cell policy)
        .filter(size(col(embCol)) >= init.dims)
        .select(encodeNative(col(embCol), cur).as("codes"),
          posexplode(col(embCol)).as(Seq("dim", "v")))
        .filter(col("dim") < init.dims)
        .withColumn("mi", floor(col("dim") / subDim).cast("int"))
        .select(col("mi"),
          // pmod undoes the byte's sign extension — codes ≥ 128 (k up to
          // 256) would otherwise index the codebook negatively
          pmod(element_at(col("codes"), col("mi") + 1).cast("int"), lit(256)).as("code"),
          col("dim"),
          round(col("v").cast("double") * Scale).cast("long").as("fx"))
        .groupBy("mi", "code", "dim")
        .agg(sum(col("fx")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cur.codebooks.clone()
      stats.foreach { r =>
        val mi = r.getInt(0); val code = r.getInt(1); val dim = r.getInt(2)
        val d = dim - mi * subDim
        next(((mi * init.k) + code) * subDim + d) =
          (r.getLong(3).toDouble / Scale / r.getLong(4)).toFloat
      }
      cur = PqModel(init.dims, init.m, init.k, next)
    }
    cur
  }

  /** Column API: `array<float>` → `array<byte>` of m codebook indices. */
  def encodeNative(emb: Column, model: PqModel): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(emb), model))

  /** Column API: per-row squared reconstruction error Σₘ min_k ‖sub−c‖²
    * (the Lloyd's objective — `avg` of it is the model's distortion).
    */
  def sqErrorNative(emb: Column, model: PqModel): Column =
    ColumnBridge.column(PqSqError(ColumnBridge.expression(emb), model))

  /** Mean squared reconstruction error of `model` over the corpus — the
    * training objective, used by the q90 gate to assert Lloyd's actually
    * improved on the init model.
    */
  def distortion(corpus: DataFrame, model: PqModel, embCol: String = "embedding"): Double = {
    val row = corpus.agg(avg(sqErrorNative(col(embCol), model)).as("d")).head()
    require(!row.isNullAt(0), "distortion over an empty corpus (or all-null embeddings) is undefined")
    row.getDouble(0)
  }

  /** Two models' distortions in ONE corpus pass — the trained-vs-init
    * comparison every training gate makes, which as two [[distortion]]
    * calls paid two full corpus aggregations for one boolean (r17). The
    * per-model values are the identical `avg` aggregates, just computed
    * side by side.
    */
  def distortionPair(
      corpus: DataFrame, a: PqModel, b: PqModel,
      embCol: String = "embedding"): (Double, Double) = {
    val row = corpus.agg(
      avg(sqErrorNative(col(embCol), a)).as("da"),
      avg(sqErrorNative(col(embCol), b)).as("db")).head()
    require(!row.isNullAt(0) && !row.isNullAt(1),
      "distortion over an empty corpus (or all-null embeddings) is undefined")
    (row.getDouble(0), row.getDouble(1))
  }

  /** ADC top-k over PQ codes, with optional exact re-rank.
    *
    * Plan shape (the production serving shape): encode the corpus ONCE
    * into (vec_id, m-byte codes) — a single codegen pass in the scan
    * stage; broadcast the query table as (query_id, query index); score
    * every (code row × query) via [[PqAdcCosine]] — `2m` array lookups
    * per pair against the reference-object LUTs, no float vectors in
    * flight; per-query shortlist via a window over narrow (id, id, score)
    * rows. With `refine > k`, the top-`refine` shortlist joins BACK to
    * the corpus by vec_id for an exact-cosine re-rank — O(queries ×
    * refine) vector fetches, never a second corpus pass.
    *
    * Query vectors are collected on the driver — bounded by contract
    * (they are model parameters of the generated code, like centroids;
    * a query BATCH at scale pages through this API).
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      model: PqModel,
      k: Int,
      refine: Int = 0,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val codec = new AdcCodec(model)
    val kit = codec.bind(queries, idCol, embCol)
    val shortlist = Ivf.topK(
      Ivf.scoreAll(Ivf.encoded(corpus, codec, idCol, embCol), kit), math.max(k, refine))
    if (refine <= k) shortlist
    else {
      // exact re-rank: only the shortlist rows fetch their float vectors.
      // The shortlist is bounded at queries × refine BY CONSTRUCTION (the
      // window filter), so it broadcasts — the corpus side streams through
      // a broadcast-hash join with no shuffle, never a corpus-wide SMJ
      val spark = corpus.sparkSession
      import spark.implicits._
      val qVecTable = broadcast(
        kit.qIds.zip(kit.qVecs).toSeq.map { case (id, v) => (id, v.toSeq) }
          .toDF("query_id", "query_vec")
          .select(col("query_id"), col("query_vec").cast("array<float>")))
      Ivf.topK(
        broadcast(shortlist.select(col("query_id"), col("neighbor_id").as("vec_id")))
          .join(corpus.select(col(idCol).as("vec_id"), col(embCol).as("cand_vec")), Seq("vec_id"))
          .join(qVecTable, Seq("query_id"))
          .select(col("query_id"), col("vec_id"),
            CosineSimilarity.cosineNative(col("query_vec"), col("cand_vec")).as("sim")),
        k)
    }
  }

  /** Persist an IVF-PQ index — the billion-scale composition: coarse cells
    * prune the search space (directory pruning, exactly as the int8 index),
    * PQ codes shrink the resident lists to `m` bytes/vector. Layout:
    * `<path>/lists/cell_id=N/…` (vec_id, codes), `<path>/codebooks` (the
    * PQ model + scheme version), `<path>/cells` (cell_id, cell_vec) —
    * `cells` is written LAST so cells-has-data implies every other leg
    * committed (the [[Similarity.ivfIndexReadable]] crash-window
    * convention). Codes quantize the RAW vectors, not cell residuals —
    * the residual (IVFADC) variant would need a per-row centroid inside
    * the encode kernel; on near-uniform corpora the gain is marginal and
    * the non-residual form keeps encode a pure function of the model,
    * which is what makes append/replay exactly reproducible.
    */
  def writeIvfPqIndex(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      model: PqModel,
      path: String): Unit =
    Ivf.write(corpus, centroids, new AdcCodec(model), path)

  /** Load a persisted index's PQ model. Fails loudly on a scheme-version
    * mismatch: codes written under one training/encoding scheme must never
    * be ADC-scored under another ([[Int8Ops.QuantizerVersion]] contract).
    */
  def readPqModel(spark: org.apache.spark.sql.SparkSession, path: String): PqModel = {
    val row = graft.sources.Tables.parquetScan(spark, s"$path/codebooks").head()
    val ver = row.getAs[String]("pq_version")
    require(ver == PqVersion,
      s"IVF-PQ index at $path was written under scheme $ver, this engine runs $PqVersion — rebuild the index")
    PqModel(row.getAs[Int]("dims"), row.getAs[Int]("m"), row.getAs[Int]("k"),
      row.getAs[scala.collection.Seq[Float]]("codebooks").toArray)
  }

  /** True when a readable [[writeIvfPqIndex]] index exists at `path`: the
    * int8-index legs (committed `cells` + a data-bearing list directory)
    * plus a committed `codebooks` model. Same crash-window rationale as
    * [[Similarity.ivfIndexReadable]].
    */
  def ivfPqIndexReadable(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    Similarity.ivfIndexReadable(spark, path) &&
      IndexProtocol.hasTopLevelParquet(
        IndexProtocol.fileSystem(spark, path),
        new org.apache.hadoop.fs.Path(s"$path/codebooks"))

  /** Append a new batch against the index's FROZEN models (centroids and
    * codebooks are the index's identity — retraining either would orphan
    * every resident code). One linear pass over the batch; history lists
    * are never read. At-least-once safe: ADC scoring is deterministic in
    * the model, so [[queryIvfPqIndex]]'s distinct absorbs a crash-replayed
    * append's duplicate rows — the same contract as the int8 index.
    */
  def appendToIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newBatch: DataFrame): Unit =
    Ivf.append(spark, path, new AdcCodec(readPqModel(spark, path)), newBatch)

  /** Serve top-k ANN from a persisted [[writeIvfPqIndex]] index. Same
    * serving shape as [[Similarity.queryIvfIndex]] — probes per query
    * against the persisted centroids, the DISTINCT probed cells become an
    * `isin` directory-pruning predicate, the probe table broadcasts — but
    * the pruned lists scan reads `m`-BYTE CODES, not vectors, and ranks
    * via the ADC kernel (2m lookups/candidate). Results are ADC-ordered
    * (the codes are all the index stores); callers wanting an exact-cosine
    * re-rank own fetching the shortlist's float vectors from their primary
    * store — the index deliberately doesn't duplicate them.
    *
    * Maintenance: the list layout is identical to the int8 index's, so
    * [[Similarity.compactIvfIndex]] folds this index's append debris
    * unchanged.
    */
  def queryIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      nProbe: Int,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val kit = new AdcCodec(readPqModel(spark, path)).bind(queries, idCol, embCol)
    Ivf.topK(Ivf.probeScores(spark, path, kit, nProbe), k)
  }

  /** Re-index migration for a tripped PQ drift monitor — the
    * [[Similarity.migrateIvfIndex]] protocol for the PQ family: retrain
    * BOTH models (coarse centroids and codebooks) on the caller-supplied
    * float corpus — the index stores only codes, so re-encoding must
    * start from the source — build the replacement alongside the serving
    * index, and swap it in with the two-rename crash-safe protocol. The
    * new codebooks keep the old model's (dims, m, k) shape: the serving
    * tier's storage budget is the operator's choice, not the monitor's.
    * Crash windows and single-writer contract exactly as the int8
    * migration (`PersistedIndex.Ivf.recover` restores a parked swap on
    * startup for both families).
    */
  def migrateIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      corpus: DataFrame,
      nCells: Int,
      kmIters: Int,
      pqIters: Int): Unit =
    graft.sinks.Sinks.replaceTable(spark, path) { next =>
      // read the OLD model inside the staged build: replaceTable has
      // recovered any parked generation by now, and the live index stays
      // readable until the post-build swap
      val old = readPqModel(spark, path)
      val cents = Similarity.kmeansCentroids(corpus, k = nCells, iters = kmIters)
      val model = train(corpus, initCodebooks(corpus, old.dims, old.m, old.k), iters = pqIters)
      writeIvfPqIndex(corpus, cents, model, next)
    }

  /** Recall health of a persisted [[writeIvfPqIndex]] index — the q79
    * monitor's contract for the PQ family: per query, how many of the
    * nProbe-pruned serve's top-k survive against the EXHAUSTIVE ADC
    * ranking over every list (same representation both sides, so this
    * isolates what cell pruning loses — quantization loss is q90's gate).
    * Self-contained on the index: PQ codes are all that is scored, no
    * corpus vectors needed. O(index) by design — a monitoring cadence
    * samples its probe queries, exactly like [[Similarity.ivfIndexRecall]].
    * Returns (query_id, hits) with hits ∈ [0, k], 0 for a query whose
    * probed cells are all empty.
    */
  def ivfPqIndexRecall(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      nProbe: Int,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    Ivf.recall(spark, path, new AdcCodec(readPqModel(spark, path)), queries, nProbe, k, idCol, embCol)

  /** The PQ [[VecCodec]]: [[encodeNative]] codes as the list payload, the
    * [[PqAdcCosine]] kernel as the score. Its writes add the `codebooks`
    * leg (the model and its scheme version) before `cells`.
    */
  private[graft] final class AdcCodec(model: PqModel) extends VecCodec {
    val payload = "codes"

    def encode(emb: Column): Column = encodeNative(emb, model)

    override def writeModel(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
      import spark.implicits._
      Seq((model.dims, model.m, model.k, model.codebooks.toSeq, PqVersion))
        .toDF("dims", "m", "k", "codebooks", "pq_version")
        .select(col("dims"), col("m"), col("k"),
          col("codebooks").cast("array<float>"), col("pq_version"))
        .write.mode("overwrite").parquet(s"$path/codebooks")
    }

    /** Collects the query batch to the driver — bounded by contract (the
      * query vectors become parameters of the generated code, like
      * centroids; a query BATCH at scale pages through this API) — and
      * builds its ADC tables once: k·D multiplies per query, independent
      * of corpus size. */
    def bind(queries: DataFrame, idCol: String, embCol: String): AdcKit = {
      val qRows = queries.select(col(idCol), col(embCol)).orderBy(idCol).collect()
      require(qRows.nonEmpty, "PQ search needs at least one query")
      val qIds = qRows.map(_.getLong(0))
      val qVecs = qRows.map(_.getSeq[Float](1).toArray)
      val (dotLuts, n2Lut, qNorms) = adcTables(model, qVecs)
      val spark = queries.sparkSession
      import spark.implicits._
      val qIdx = broadcast(
        qIds.zipWithIndex.map { case (id, i) => (id, i) }.toSeq.toDF("query_id", "qidx"))
      val adc = ColumnBridge.column(PqAdcCosine(
        ColumnBridge.expression(col("codes")), ColumnBridge.expression(col("qidx")),
        model.m, model.k, dotLuts, n2Lut, qNorms))
      new AdcKit(queries, idCol, embCol, qIds, qVecs, qIdx, adc)
    }
  }

  /** A query batch bound to the ADC codec: the broadcast (query_id, qidx)
    * table indexes the per-query LUTs the score kernel carries. */
  private[graft] final class AdcKit(
      val queries: DataFrame,
      val idCol: String,
      val embCol: String,
      val qIds: Array[Long],
      val qVecs: Array[Array[Float]],
      val table: DataFrame,
      val score: Column) extends QueryKit {

    def attach(probed: DataFrame): DataFrame =
      probed.select(col(idCol).as("query_id"), col("cell_id")).join(table, Seq("query_id"))

    def everyQuery(perQuery: DataFrame): DataFrame = {
      // an UNHINTED id frame for the preserved side: `table` carries a
      // broadcast hint, which on the left of a left outer join is
      // unbuildable — silently dropped with a HintErrorLogger WARN. The
      // per-query values (≤ |queries| rows) are the legal build side.
      val spark = queries.sparkSession
      import spark.implicits._
      qIds.toSeq.toDF("query_id").join(broadcast(perQuery), Seq("query_id"), "left")
    }
  }

  /** Driver-side ADC tables for a query batch: per-query dot LUTs (m × k),
    * the shared reconstruction-norm² LUT, and query norms — k·D multiplies
    * per query, corpus-independent.
    */
  private def adcTables(
      model: PqModel,
      qVecs: Array[Array[Float]]): (Array[Array[Double]], Array[Double], Array[Double]) = {
    val subDim = model.subDim
    val dotLuts = qVecs.map { q =>
      val lut = new Array[Double](model.m * model.k)
      for (mi <- 0 until model.m; ki <- 0 until model.k) {
        var s = 0.0
        var d = 0
        while (d < subDim) {
          val qi = mi * subDim + d
          val qv = if (qi < q.length) q(qi).toDouble else 0.0
          s += qv * model.codebooks(((mi * model.k) + ki) * subDim + d).toDouble
          d += 1
        }
        lut(mi * model.k + ki) = s
      }
      lut
    }
    val n2Lut = new Array[Double](model.m * model.k)
    for (mi <- 0 until model.m; ki <- 0 until model.k) {
      var s = 0.0
      var d = 0
      while (d < subDim) {
        val c = model.codebooks(((mi * model.k) + ki) * subDim + d).toDouble
        s += c * c
        d += 1
      }
      n2Lut(mi * model.k + ki) = s
    }
    val qNorms = qVecs.map { q =>
      var s = 0.0; var i = 0
      while (i < q.length) { s += q(i).toDouble * q(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    (dotLuts, n2Lut, qNorms)
  }
}

/** `pq_encode(array<float>)` → `array<byte>`: per subspace, the index of
  * the squared-Euclidean-nearest codebook entry (ties → lowest index via
  * strict `<`). Codebooks ride as a codegen reference object. Missing
  * trailing components (vector shorter than the model dim) are scored as
  * zeros; extra components are ignored.
  */
case class PqEncode(child: Expression, model: Pq.PqModel) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<float>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Byte](model.m)
    var mi = 0
    while (mi < model.m) {
      var best = 0
      var bestD = Double.MaxValue
      var ki = 0
      while (ki < model.k) {
        var dist = 0.0
        var d = 0
        while (d < model.subDim) {
          val src = mi * model.subDim + d
          val xv = if (src < n) x.getFloat(src).toDouble else 0.0
          val diff = xv - model.codebooks(((mi * model.k) + ki) * model.subDim + d).toDouble
          dist += diff * diff
          d += 1
        }
        if (dist < bestD) { bestD = dist; best = ki }
        ki += 1
      }
      out(mi) = best.toByte
      mi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebooks", model.codebooks, "float[]")
    val (m, k, subDim) = (model.m, model.k, model.subDim)
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val mi = ctx.freshName("mi")
      val ki = ctx.freshName("ki")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val dist = ctx.freshName("dist")
      val src = ctx.freshName("src")
      val xv = ctx.freshName("xv")
      val diff = ctx.freshName("diff")
      s"""
         |int $n = $c.numElements();
         |byte[] $out = new byte[$m];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $best = 0;
         |  double $bestD = Double.MAX_VALUE;
         |  for (int $ki = 0; $ki < $k; $ki++) {
         |    double $dist = 0.0;
         |    for (int $d = 0; $d < $subDim; $d++) {
         |      int $src = $mi * $subDim + $d;
         |      double $xv = $src < $n ? (double) $c.getFloat($src) : 0.0;
         |      double $diff = $xv - (double) $cb[(($mi * $k) + $ki) * $subDim + $d];
         |      $dist += $diff * $diff;
         |    }
         |    if ($dist < $bestD) { $bestD = $dist; $best = $ki; }
         |  }
         |  $out[$mi] = (byte) $best;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pq_sq_error(array<float>)` → double: Σₘ min_k ‖sub − c‖², the per-row
  * Lloyd's objective under the model (averaged = distortion). Shares
  * [[PqEncode]]'s zero-padding convention.
  */
case class PqSqError(child: Expression, model: Pq.PqModel) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_sq_error requires array<float>, got ${other.sql}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_sq_error"

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    var total = 0.0
    var mi = 0
    while (mi < model.m) {
      var bestD = Double.MaxValue
      var ki = 0
      while (ki < model.k) {
        var dist = 0.0
        var d = 0
        while (d < model.subDim) {
          val src = mi * model.subDim + d
          val xv = if (src < n) x.getFloat(src).toDouble else 0.0
          val diff = xv - model.codebooks(((mi * model.k) + ki) * model.subDim + d).toDouble
          dist += diff * diff
          d += 1
        }
        if (dist < bestD) bestD = dist
        ki += 1
      }
      total += bestD
      mi += 1
    }
    total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebooks", model.codebooks, "float[]")
    val (m, k, subDim) = (model.m, model.k, model.subDim)
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val total = ctx.freshName("total")
      val mi = ctx.freshName("mi")
      val ki = ctx.freshName("ki")
      val d = ctx.freshName("d")
      val bestD = ctx.freshName("bestD")
      val dist = ctx.freshName("dist")
      val src = ctx.freshName("src")
      val xv = ctx.freshName("xv")
      val diff = ctx.freshName("diff")
      s"""
         |int $n = $c.numElements();
         |double $total = 0.0;
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  double $bestD = Double.MAX_VALUE;
         |  for (int $ki = 0; $ki < $k; $ki++) {
         |    double $dist = 0.0;
         |    for (int $d = 0; $d < $subDim; $d++) {
         |      int $src = $mi * $subDim + $d;
         |      double $xv = $src < $n ? (double) $c.getFloat($src) : 0.0;
         |      double $diff = $xv - (double) $cb[(($mi * $k) + $ki) * $subDim + $d];
         |      $dist += $diff * $diff;
         |    }
         |    if ($dist < $bestD) $bestD = $dist;
         |  }
         |  $total += $bestD;
         |}
         |${ev.value} = $total;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pq_adc_cosine(array<byte> codes, int qidx)` → double: the ADC kernel.
  * Approximate cosine of query `qidx` against the RECONSTRUCTION of a
  * coded vector — `Σₘ dotLut[qidx][m·k + code] / (‖q‖ · √Σₘ n2Lut[m·k +
  * code])` — `2m` array lookups per pair; the LUTs (built once per query
  * batch on the driver) and query norms ride as codegen reference
  * objects. Subspaces are orthogonal coordinate blocks, so the
  * reconstruction's norm² decomposes exactly into the per-subspace
  * entries' norm² — no approximation beyond quantization itself.
  * A zero-norm query or all-zero reconstruction yields 0/0 = NaN, which
  * both engines' descending windows rank first (the [[CosineSimilarity]]
  * convention). Codes past the model's m (longer array than the model)
  * are ignored; a SHORTER codes array scores only its present subspaces.
  */
case class PqAdcCosine(
    left: Expression,
    right: Expression,
    m: Int,
    k: Int,
    dotLuts: Array[Array[Double]],
    n2Lut: Array[Double],
    qNorms: Array[Double]) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ByteType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_cosine requires (array<byte>, int), got (${l.sql}, ${r.sql})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_cosine"

  override protected def nullSafeEval(codesAny: Any, qidxAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val qidx = qidxAny.asInstanceOf[Int]
    val lut = dotLuts(qidx)
    val n = math.min(codes.numElements(), m)
    var dot = 0.0
    var n2 = 0.0
    var mi = 0
    while (mi < n) {
      val idx = mi * k + (codes.getByte(mi).toInt & 0xff)
      dot += lut(idx)
      n2 += n2Lut(idx)
      mi += 1
    }
    dot / (qNorms(qidx) * math.sqrt(n2))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val luts = ctx.addReferenceObj("pqDotLuts", dotLuts, "double[][]")
    val n2 = ctx.addReferenceObj("pqN2Lut", n2Lut, "double[]")
    val qn = ctx.addReferenceObj("pqQNorms", qNorms, "double[]")
    nullSafeCodeGen(ctx, ev, (codes, qidx) => {
      val n = ctx.freshName("n")
      val lut = ctx.freshName("lut")
      val dot = ctx.freshName("dot")
      val nn = ctx.freshName("nn")
      val mi = ctx.freshName("mi")
      val idx = ctx.freshName("idx")
      s"""
         |int $n = java.lang.Math.min($codes.numElements(), $m);
         |double[] $lut = $luts[$qidx];
         |double $dot = 0.0;
         |double $nn = 0.0;
         |for (int $mi = 0; $mi < $n; $mi++) {
         |  int $idx = $mi * $k + (((int) $codes.getByte($mi)) & 0xff);
         |  $dot += $lut[$idx];
         |  $nn += $n2[$idx];
         |}
         |${ev.value} = $dot / ($qn[$qidx] * java.lang.Math.sqrt($nn));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
