package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** What a vector index stores per vector and how it scores a query against
  * it — the ONLY thing int8, PQ and float search do differently (FAISS's
  * `IndexIVF` + pluggable encoder split). The payload encode and the score
  * stay native codegen kernels; every step around them lives once in [[Ivf]].
  */
private[graft] trait VecCodec {

  /** Name of the payload column of a list row. */
  def payload: String

  /** Per-row encode of a float embedding into the payload. */
  def encode(emb: Column): Column

  /** Bind a query batch (`idCol` ids, `embCol` float vectors). */
  def bind(queries: DataFrame, idCol: String, embCol: String): QueryKit

  /** Persist the codec's own model beside a freshly written index (none
    * for int8; PQ writes its `codebooks` leg). */
  def writeModel(spark: SparkSession, path: String): Unit = ()
}

/** A query batch bound to a codec: its query-side payload and the score
  * kernel over (query payload, list payload). */
private[graft] trait QueryKit {
  def queries: DataFrame
  def idCol: String
  def embCol: String

  /** (query_id, query payload): the side every list row is scored against
    * in an exhaustive scan. */
  def table: DataFrame

  /** A probe-window frame (idCol, embCol, cell_id, …) → (query_id, cell_id,
    * query payload). */
  def attach(probed: DataFrame): DataFrame

  /** The score of a list row against the query it is paired with. */
  def score: Column

  /** Left-join a per-query relation onto every query id of the batch. */
  def everyQuery(perQuery: DataFrame): DataFrame
}

private[graft] object VecCodec {

  /** A codec whose query payload is a per-row projection of the query
    * frame — the same encode as the lists, so no driver-side collect. */
  private final class RowCodec(
      val payload: String,
      queryPayload: String,
      enc: Column => Column,
      kernel: (Column, Column) => Column) extends VecCodec {
    def encode(emb: Column): Column = enc(emb)
    def bind(q: DataFrame, id: String, emb: String): QueryKit = new QueryKit {
      val queries = q
      val idCol = id
      val embCol = emb
      lazy val table = q.select(col(id).as("query_id"), enc(col(emb)).as(queryPayload))
      def attach(probed: DataFrame): DataFrame =
        probed.select(col(id).as("query_id"), enc(col(emb)).as(queryPayload), col("cell_id"))
      val score = kernel(col(queryPayload), col(payload))
      def everyQuery(perQuery: DataFrame): DataFrame =
        table.select("query_id").join(perQuery, Seq("query_id"), "left")
    }
  }

  /** int8 lists: [[Int8Ops.quantizeInt8Native]] payload, integer-exact
    * [[Int8Cosine]] score. */
  val Int8: VecCodec = new RowCodec("qvec", "query_qvec",
    Int8Ops.quantizeInt8Native, Int8Ops.cosineInt8Native)

  /** Float lists: the embedding itself, [[CosineSimilarity.cosineNative]]. */
  val Float: VecCodec = new RowCodec("embedding", "query_vec",
    identity, CosineSimilarity.cosineNative)
}

/** The one inverted-file (IVF) core behind every vector search: a coarse
  * centroid model (`cells`), inverted lists of `(vec_id, payload, cell_id)`
  * rows, a top-`nProbe` probe window per query, and a per-query top-k rank
  * by `(sim desc, vec_id)`. In-memory search ([[Similarity.ivfInt8TopK]],
  * [[Similarity.ivfTopKWithCentroids]]), flat search ([[Similarity.int8TopK]],
  * [[Pq.pqTopK]]) and the persisted indexes ([[Similarity.writeIvfIndex]],
  * [[Pq.writeIvfPqIndex]] and their append / serve / recall) each COMPOSE
  * these steps with a [[VecCodec]]; none of them re-implements one.
  *
  * Persisted layout (both codecs): `<path>/lists/cell_id=N/…` (vec_id,
  * payload), the codec's model leg if any, then `<path>/cells` (cell_id,
  * cell_vec) written LAST, so cells-has-data implies every other leg
  * committed ([[Similarity.ivfIndexReadable]]).
  */
private[graft] object Ivf {

  /** Centroid i as cell i — the id scheme of every list and probe. */
  def indexed(centroids: Array[Array[Float]]): Array[(Long, Array[Float])] =
    centroids.zipWithIndex.map { case (v, i) => (i.toLong, v) }

  /** The (cell_id, cell_vec) relation of a centroid model (k × dims floats,
    * created locally). */
  def cells(spark: SparkSession, centroids: Array[Array[Float]]): DataFrame =
    spark.createDataFrame(indexed(centroids).map { case (i, v) => (i, v.toSeq) }.toSeq)
      .toDF("cell_id", "cell_vec")
      .select(col("cell_id"), col("cell_vec").cast("array<float>"))

  /** (vec_id, payload) rows of a flat corpus: one encode pass in the scan. */
  def encoded(
      corpus: DataFrame, codec: VecCodec,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("vec_id"), codec.encode(col(embCol)).as(codec.payload))

  /** (vec_id, payload, cell_id) inverted-list rows: per-row encode plus the
    * zero-shuffle [[Similarity.nearestCentroid]] assignment, ONE linear
    * pass — the float embeddings never leave the scan. */
  def listRows(corpus: DataFrame, codec: VecCodec, centroids: Array[Array[Float]]): DataFrame =
    corpus.select(
      col("vec_id"),
      codec.encode(col("embedding")).as(codec.payload),
      Similarity.nearestCentroid(col("embedding"), indexed(centroids)).as("cell_id"))

  /** Each query's `nProbe` closest cells, (query_id, cell_id, query
    * payload): queries × broadcast(cells) is model-sized work, and the
    * window ranks only nCells scores per query. */
  def probes(kit: QueryKit, cells: DataFrame, nProbe: Int): DataFrame = {
    val w = Window.partitionBy(kit.idCol).orderBy(col("csim").desc, col("cell_id"))
    kit.attach(kit.queries
      .crossJoin(broadcast(cells))
      .withColumn("csim", CosineSimilarity.cosineNative(col(kit.embCol), col("cell_vec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nProbe))
  }

  /** Narrow (query_id, vec_id, sim) rows of every list row in a probed
    * cell, self pairs excluded: the probes broadcast UNDER the lists, so
    * the corpus is never shuffled. */
  def scoreProbed(lists: DataFrame, probes: DataFrame, kit: QueryKit): DataFrame =
    lists
      .join(broadcast(probes), Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), kit.score.as("sim"))

  /** Narrow (query_id, vec_id, sim) rows of every list row against every
    * query (self pairs excluded) — the flat scan and the exhaustive truth. */
  def scoreAll(lists: DataFrame, kit: QueryKit): DataFrame =
    lists
      .join(broadcast(kit.table), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), kit.score.as("sim"))

  /** Per-query top-k of narrow score rows, ties broken on vec_id: the one
    * rank every search returns, as (query_id, neighbor_id, sim, rank). The
    * filtered row_number plans as a map-side WindowGroupLimit, so the only
    * exchange carries 20-byte score rows. */
  def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("sim"), 4).as("sim"), col("rank"))
  }

  // ------------------------------------------------------------ persisted

  def write(corpus: DataFrame, centroids: Array[Array[Float]], codec: VecCodec, path: String): Unit = {
    listRows(corpus, codec, centroids)
      .write.mode("overwrite").partitionBy("cell_id").parquet(s"$path/lists")
    codec.writeModel(corpus.sparkSession, path)
    cells(corpus.sparkSession, centroids).write.mode("overwrite").parquet(s"$path/cells")
  }

  /** Encode a batch against the index's FROZEN centroids and codec and
    * append its rows to the existing `cell_id=N` directories. */
  def append(spark: SparkSession, path: String, codec: VecCodec, batch: DataFrame): Unit =
    listRows(batch, codec, Similarity.readIvfCentroids(spark, path))
      .write.mode("append").partitionBy("cell_id").parquet(s"$path/lists")

  /** Raw (query_id, vec_id, sim) scores of every resident of each query's
    * probed cells in a persisted index. */
  def probeScores(spark: SparkSession, path: String, kit: QueryKit, nProbe: Int): DataFrame = {
    val probed = probes(kit, Tables.parquetScan(spark, s"$path/cells"), nProbe)
    // bounded collect: nQueries × nProbe cell ids (probe-plan parameters,
    // not data) — they must reach the driver to become a partition-pruning
    // predicate the scan can evaluate against directory names.
    //
    // The probe subtree IS evaluated twice (once here, once for the
    // broadcast build below) — deliberately, A/B-measured: pinning the
    // evaluated rows (localCheckpoint blocks, or a driver-side local
    // relation) costs MORE than re-running the subtree — q66 paid +0.3 s
    // to block I/O / +0.5 s to driver re-encoding vs +0 for the recompute,
    // because the subtree is a broadcast cross join + an O(batch×nCells)
    // window, cheap relative to its materialization. Both evaluations are
    // distributed and O(batch); nothing here scales with the corpus.
    val probedCells = probed.select("cell_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val lists = Tables.parquetScan(spark, s"$path/lists")
      .filter(col("cell_id").isInCollection(probedCells))
    // At-least-once absorber: a crashed-and-replayed append (an ingest
    // loop's crash window — see IngestPipeline) leaves duplicate list rows;
    // their scored rows are bit-identical (both scores are deterministic in
    // the model), so one distinct over the NARROW score rows restores
    // exactly-once serving. Without it a duplicated vector would occupy two
    // of the k ranks.
    scoreProbed(lists, probed, kit).distinct()
  }

  /** Sampled recall of a persisted index: per query, |pruned serve top-k ∩
    * exhaustive top-k| over the index's own residents (same codec both
    * sides, so this isolates what cell pruning loses), 0 for a query whose
    * probed cells are all empty. Output (query_id, hits). */
  def recall(
      spark: SparkSession, path: String, codec: VecCodec, queries: DataFrame,
      nProbe: Int, k: Int, idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val kit = codec.bind(queries, idCol, embCol)
    val served = topK(probeScores(spark, path, kit, nProbe), k)
      .select(col("query_id"), col("neighbor_id"))
    val exhaustive = topK(scoreAll(Tables.parquetScan(spark, s"$path/lists"), kit).distinct(), k)
      .select(col("query_id"), col("neighbor_id"))
    kit.everyQuery(served.join(exhaustive, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits")))
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** The codec a persisted index at `path` serves with, read from the index
    * itself: lists carrying PQ `codes` need a committed `codebooks` leg,
    * any other readable index is int8. None when the index is not readable
    * (the bootstrap / crash-debris verdict of [[Similarity.ivfIndexReadable]]
    * and [[Pq.ivfPqIndexReadable]]). */
  def stored(spark: SparkSession, path: String): Option[VecCodec] =
    if (!Similarity.ivfIndexReadable(spark, path)) None
    else if (!Tables.parquetScan(spark, s"$path/lists").columns.contains("codes"))
      Some(VecCodec.Int8)
    else if (Pq.ivfPqIndexReadable(spark, path)) Some(new Pq.AdcCodec(Pq.readPqModel(spark, path)))
    else None
}
