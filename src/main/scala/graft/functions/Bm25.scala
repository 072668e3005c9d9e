package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval over an inverted index — the workhorse of
  * training-data curation's retrieval steps (hard-negative mining for
  * embedding training, retrieval-based decontamination, eval-set
  * construction), re-expressed as three persisted tables plus one
  * join-aggregate-topk serving plan.
  *
  * Scoring (Robertson/Sparck-Jones BM25, k1 = 1.2, b = 0.75): for query
  * term t in document d,
  * {{{
  *   idf(t)  = ln(1 + (N − df + 0.5)/(df + 0.5))
  *   tfn     = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *   score_d = Σ_t idf(t)·tfn
  * }}}
  * k1 = 6/5 and b = 3/4 make every tf-normalization constant an exact
  * rational: k1+1 = 22/10, k1(1−b) = 3/10, k1·b = 9/10 — so tfn is pure
  * int64 arithmetic once the per-document length norm is fixed-point:
  * {{{
  *   k_e6    = divHalfUp((3L + 9·dl·N)·10⁶, 10L)        // 10⁶(0.3 + 0.9·dl/avgdl)
  *   contribution_e6 = divHalfUp(idf_e6·22·tf·10⁵, tf·10⁶ + k_e6)
  * }}}
  * Fixed-point contract (the [[LangModel]] discipline): floating point
  * happens ONCE, at index build — `idf_e6 = round(10⁶·ln …)` lands in the
  * persisted terms table and both the serving plan and the DuckDB oracle
  * consume the SAME integers; k_e6 is exact integer arithmetic both
  * engines re-derive identically. Overflow envelope: the score numerator
  * is idf_e6·22·tf·10⁵ ≤ 2.1e7·22·tf·10⁵ (idf_e6 ≤ ln(10⁹)·10⁶ at a
  * billion docs), int64-safe to tf ≈ 2·10⁵ occurrences of one term in one
  * document; k_e6's numerator (3L + 9·dl·N)·10⁶ is the binding constraint
  * at extreme scale — int64-safe to L·N ≈ 10²¹/9e6 ≈ 10¹⁴ token-docs,
  * beyond which the norm should be computed per partition of the corpus.
  *
  * Index artifact at `path` ([[IndexProtocol]] staged-swap publish):
  *   - `postings/` (term, doc_id, tf): the inverted index
  *   - `docs/`     (doc_id, dl, k_e6): per-document length norms
  *   - `terms/`    (term, df, idf_e6): per-term document frequency + idf
  *   - `_GRAFT_LAYOUT` (n=<docs>,l=<tokens>,bm=<version>,g=<ngram>):
  *     corpus totals + shingle grade travel with the artifact
  *
  * Scale shape: the build is two hash aggregations over exploded tokens
  * (narrow (term, doc_id) rows). Serving joins the probe terms against
  * postings and terms. The probe side is PINNED as the broadcast build
  * side (r17): it is bounded by contract ([[MaxProbeTerms]]), so the
  * round-12 8 GB-cap rule against hinting UNBOUNDED relations does not
  * apply — and leaving the choice to size estimates let a testdata
  * regeneration flip the planner into broadcasting the POSTINGS under
  * streamed probes, a shape that cannot exist at corpus scale. The
  * terms/docs dimension joins stay size-chosen (they grow with the
  * index). So the 100 TB postings table is never shuffled: it is scanned
  * once with the broadcast probe filter, and only the matched
  * (query_id, doc_id, tf)
  * candidates — not the corpus — reach the doc-norm join and the per-query
  * aggregation. Top-k ranks via row_number, which prunes map-side
  * (WindowGroupLimit) before the final narrow exchange. Bucketing
  * postings by term would additionally turn the probe join into a
  * pruned-bucket read; nothing here would change.
  */
object Bm25 {

  /** Scheme version — a stamp ingredient for persisted index fixtures. */
  val Version = 1

  private val IdfScale = 1000000L

  /** Build and publish the index artifact for `docs` at `path`.
    * Tokenization is the engine-wide single-space split ([[Text.tokens]]);
    * `ngram > 1` indexes word shingles instead of unigrams (the
    * [[Text.explodeNgrams]] codegen path) — the term grade retrieval-based
    * decontamination needs, where a single-word vocabulary is too shared
    * to discriminate (the ngram travels in the layout, so consumers build
    * matching probes without a side-channel contract).
    */
  def buildIndex(docs: DataFrame, textCol: String, idCol: String, path: String,
      ngram: Int = 1): Unit = {
    require(ngram >= 1, s"ngram must be >= 1, got $ngram")
    val keyed = docs.select(col(idCol).cast("long").as("doc_id"), col(textCol))
    val postings = Text.explodeNgrams(keyed, textCol, ngram, out = "term")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    publishServedIndex(docs.sparkSession, postings, path, ngram)
  }

  /** Derive and swap in the served artifact from a postings relation —
    * the ONE place the BM25 arithmetic lives, shared by [[buildIndex]]
    * and [[refreshIndex]] so a one-shot build and an
    * install+appends+refresh can never drift.
    *
    *   - dl = Σ tf per doc (exact — postings carry every occurrence)
    *   - k_e6 = 10⁶(0.3 + 0.9·dl/avgdl), exact integer half-up: the
    *     oracle re-derives this from the base table, so no float enters
    *   - idf_e6: the one transcendental, quantized once here (codegen ln
    *     + half-up round — the LangModel reproducibility contract:
    *     identical for every consumer of THIS persisted train)
    */
  private def publishServedIndex(
      spark: SparkSession, postings: DataFrame, path: String,
      ngram: Int = 1): Unit = {
    val dl = postings.groupBy("doc_id").agg(sum("tf").as("dl"))
    val Array(n, l) = {
      // coalesce: SUM over an empty corpus is null — the require below
      // must own that case, not a row-access error
      val r = dl.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
      Array(r.getLong(0), r.getLong(1))
    }
    require(n > 0 && l > 0, s"BM25 index needs a non-empty corpus, got n=$n l=$l")
    val docNorms = dl.withColumn("k_e6",
      ExactAgg.divHalfUp((lit(3L) * l + lit(9L) * col("dl") * n) * IdfScale,
        lit(10L) * l))
    val terms = postings.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf_e6",
        round(log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) * IdfScale).cast("long"))
    graft.sinks.Sinks.replaceTable(spark, path) { stage =>
      postings.write.parquet(s"$stage/postings")
      docNorms.write.parquet(s"$stage/docs")
      terms.write.parquet(s"$stage/terms")
      IndexProtocol.writeLayout(spark, stage, "n" -> n, "l" -> l, "bm" -> Version, "g" -> ngram)
    }
  }

  /** Term grade (word n-gram size) recorded in a published index's
    * layout; 1 for pre-grade artifacts. */
  def indexNgram(spark: SparkSession, path: String): Int =
    IndexProtocol.readLayout(spark, path).fields.getOrElse("g", "1").toInt

  /** Corpus totals (N docs, L tokens) recorded in a published index's
    * layout — the build's aggregate state, never recomputed at serve time.
    */
  def readMeta(spark: SparkSession, path: String): (Long, Long) = {
    val layout = IndexProtocol.readLayout(spark, path)
    layout.requireScheme("bm", Version, "BM25 index")
    (layout.long("n"), layout.long("l"))
  }

  /** Deterministic pseudo-queries for gating and evaluation: for each
    * document with id < `nQueries`, its `termsPerQuery` most frequent
    * tokens (ties broken by term) — the standard "document as its own
    * query" retrieval-eval trick, re-derivable exactly in SQL.
    */
  def pseudoQueries(
      docs: DataFrame, textCol: String, idCol: String,
      nQueries: Int, termsPerQuery: Int): DataFrame = {
    require(nQueries >= 1 && termsPerQuery >= 1,
      s"need at least one query and one term, got $nQueries/$termsPerQuery")
    val tf = docs.filter(col(idCol) < nQueries)
      .select(col(idCol).cast("long").as("query_id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("tf"))
    tf.withColumn("r", row_number().over(
        Window.partitionBy("query_id").orderBy(col("tf").desc, col("term"))))
      .filter(col("r") <= termsPerQuery)
      .select("query_id", "term")
  }

  // ----------------------------------------------------- incremental index

  private def factsRoot(path: String) = s"$path/facts"

  /** Served-index root under an incremental install — pass to [[search]]. */
  def indexRoot(path: String): String = s"$path/index"

  /** One batch's posting facts: (term, doc_id, src, tf). Doc lengths are
    * NOT a separate fact table — dl = Σ tf per doc, recomputed exactly by
    * [[refreshIndex]], so the fact schema stays minimal and replay-safe.
    */
  private def postingFacts(
      docs: DataFrame, path: String, textCol: String, idCol: String,
      generation: Long): IndexProtocol.GenerationRows =
    IndexProtocol.GenerationRows(factsRoot(path), docs.select(
        col(idCol).cast("long").as("doc_id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc_id"), lit(generation).as("src"), col("tf")))

  /** Install an incremental BM25 index from a history corpus (generation
    * 0) and derive the first served artifact. Append-only corpus
    * contract (the incremental-ingest discipline): each doc_id arrives in
    * exactly one generation; a replayed generation is a no-op, and the
    * refresh's distinct collapses crashed-fold duplicates.
    */
  def installIndex(
      history: DataFrame, textCol: String, idCol: String, path: String): Unit = {
    val spark = history.sparkSession
    IndexProtocol.install(spark, path, Seq("bm" -> Version), 0L,
      postingFacts(history, path, textCol, idCol, generation = 0L))
    refreshIndex(spark, path)
  }

  /** A fact index's layout is exactly its scheme — which also tells a fact
    * root from a served root, whose layout carries corpus totals. */
  private def checkFactsLayout(spark: SparkSession, path: String): Unit = {
    val layout = IndexProtocol.readLayout(spark, path)
    require(layout.fields == Map("bm" -> Version.toString),
      s"BM25 fact index at $path has layout '${layout.payload}', this build writes bm=$Version — rebuild")
  }

  /** Publish one batch's posting facts as an immutable generation.
    * Returns false for an already-published generation (replay no-op). */
  def appendDocs(
      batch: DataFrame, path: String, generation: Long,
      textCol: String = "text", idCol: String = "doc_id"): Boolean = {
    checkFactsLayout(batch.sparkSession, path)
    IndexProtocol.publishGeneration(generation, postingFacts(batch, path, textCol, idCol, generation))
  }

  def indexReadable(spark: SparkSession, path: String): Boolean =
    IndexProtocol.generationalReadable(spark, path, Seq("facts"))

  /** Fold fact generations ≤ upToGen into one (rows are (term, doc_id,
    * src, tf) facts — duplicates from a crashed fold collapse through the
    * refresh's distinct). */
  def compactFacts(spark: SparkSession, path: String, upToGen: Long): Unit =
    IndexProtocol.compactGenerational(spark, factsRoot(path), upToGen)

  /** Re-derive the served artifact from the accumulated facts and swap it
    * in — identical arithmetic to [[buildIndex]] over the union corpus
    * (same norms, same idf quantization), so install+appends+refresh
    * equals a full rebuild; the spec pins table-level equality.
    */
  def refreshIndex(spark: SparkSession, path: String): Unit = {
    if (!indexReadable(spark, path)) return
    checkFactsLayout(spark, path)
    val postings = IndexProtocol.readFacts(spark, factsRoot(path), "term", "doc_id", "src", "tf")
      .select("term", "doc_id", "tf")
    publishServedIndex(spark, postings, indexRoot(path))
  }

  /** Hard-negative mining — the standard negatives source for training
    * retrieval and embedding models: candidates that are lexically CLOSE
    * (BM25 top-`n` for the query among the EMBEDDED corpus, self
    * excluded) but semantically FAR (embedding cosine against the query
    * document's own vector at or below `hardBelow`; 0.0 —
    * unrelated-or-opposed — by default). Output (query_id, rank, doc_id,
    * score_e6, sim, hard): rank 1..n, sim rounded to 4 decimals (the q28
    * cross-engine contract), hard as an int64 0/1 flag on the ROUNDED
    * sim so the comparison replays identically in the oracle.
    *
    * Candidacy contract: a hard negative must be JUDGEABLE — both the
    * query document and the candidate need a vector — so the restriction
    * to the embedded corpus (and the self-exclusion) happens BEFORE the
    * top-n cut, never after it. Cutting first and restricting after
    * would silently return fewer than n negatives wherever embedding
    * coverage is partial (the sf0.1 corpus embeds 2 of 5 docs — exactly
    * the shape a production corpus has while its embedding backfill
    * runs).
    *
    * Scale shape (NARROW rank — round-14 verdict #3): judgeability needs
    * vector EXISTENCE, not values, so the embedded-corpus restriction is
    * two semi-joins on vec_id and the top-n ranks pure
    * (query_id, doc_id, score_e6) rows — at production dims a vector is
    * ~4 KiB and must never ride through the Window exchange. Vectors are
    * fetched only for the ≤ n-per-query winners; no all-pairs cosine, no
    * corpus shuffle. [[Bm25Spec]] pins the vector-free Window input.
    */
  def hardNegatives(
      spark: SparkSession, probes: DataFrame, path: String,
      embeddings: DataFrame, n: Int, hardBelow: Double = 0.0): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val cand = scoredCandidates(spark, probes, path)
      .filter(col("doc_id") =!= col("query_id"))
    val qIds = embeddings.select(col("vec_id"))
    val dIds = embeddings.select(col("vec_id").as("__cand_vid"))
    val judgeable = cand
      .join(qIds, cand("query_id") === qIds("vec_id"), "left_semi")
      .join(dIds, col("doc_id") === col("__cand_vid"), "left_semi")
    val winners = topK(judgeable, n)
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    winners
      .join(emb, winners("query_id") === emb("vec_id"))
      .withColumnRenamed("embedding", "query_vec").drop("vec_id")
      .join(emb, col("doc_id") === emb("vec_id"))
      .withColumn("sim",
        round(CosineSimilarity.cosineNative(col("query_vec"), col("embedding")), 4))
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_e6"),
        col("sim"), (col("sim") <= hardBelow).cast("long").as("hard"))
  }

  /** The unranked score relation (query_id, doc_id, score_e6) — shared by
    * [[search]] and [[hardNegatives]], whose top-k cuts differ (the mine
    * restricts to the embedded corpus BEFORE ranking). Probes are
    * set-deduplicated first: standard BM25 treats query terms as a SET,
    * and a caller passing duplicate (query_id, term) rows would otherwise
    * count that term's contribution twice (round-14 advice — only
    * [[pseudoQueries]] happened to guarantee distinctness). The dedup is
    * an aggregation over the tiny probe batch, never the index.
    */
  private def scoredCandidates(
      spark: SparkSession, probes: DataFrame, path: String): DataFrame =
    scoredAgainst(spark, collectProbes(spark, probes),
      graft.sources.Tables.parquetScan(spark, s"$path/postings"), path)

  /** The probe batch, set-deduplicated and collected ONCE to the driver as
    * a local relation — the bounded side BY CONTRACT, ENFORCED here, not
    * assumed (r17 advice: searchBucketed checked its cap but the plain
    * search/hardNegatives path reached the broadcast unchecked — a
    * corpus-sized probe relation would OOM the driver where the planner
    * previously fell back to a shuffle). The pairs are collected under a
    * `limit(cap+1)` — driver memory is bounded by the cap even when a
    * violating caller feeds a corpus — and the collected rows become the
    * broadcast's LocalRelation build side directly, so the check costs no
    * extra pass: the explicit collect replaces the one BroadcastExchange
    * would have run over the same subtree (the [[graft.functions.Dedup]]
    * probe-localization pattern). [[searchBucketed]] derives its term
    * list from the same rows.
    */
  private def collectProbes(spark: SparkSession, probes: DataFrame): DataFrame = {
    val deduped = probes.select("query_id", "term").dropDuplicates("query_id", "term")
    val probeRows = deduped.limit(MaxProbePairs + 1).collect()
    require(probeRows.length <= MaxProbePairs,
      s"BM25 probe batch exceeds $MaxProbePairs distinct (query_id, term) rows — " +
        "this serve path is for bounded probe batches, not corpus-scale relations")
    spark.createDataFrame(java.util.Arrays.asList(probeRows: _*), deduped.schema)
  }

  /** The scoring join-aggregate against an EXPLICIT postings relation —
    * the arithmetic shared by the plain artifact read and the
    * term-bucketed catalog layout ([[searchBucketed]]). (The
    * decontamination sweep scores inline instead: its query-as-a-BAG
    * semantics and carried shingle count diverge from the probe-set
    * retrieval contract here.)
    */
  private def scoredAgainst(
      spark: SparkSession, local: DataFrame, postings: DataFrame,
      path: String): DataFrame = {
    val terms = graft.sources.Tables.parquetScan(spark, s"$path/terms").select("term", "idf_e6")
    val docNorms = graft.sources.Tables.parquetScan(spark, s"$path/docs").select("doc_id", "k_e6")
    val contribution = ExactAgg.divHalfUp(
      col("idf_e6") * 22L * col("tf") * 100000L,
      col("tf") * IdfScale + col("k_e6"))
    // The collected probe batch ([[collectProbes]]) is the bounded side BY
    // CONTRACT (postings are corpus-scale), so pin it as the broadcast
    // build side instead of leaving the choice to size ESTIMATES: at tiny
    // SFs the estimate tie flipped with a testdata regeneration and the
    // planner broadcast the POSTINGS under the streamed probes — a shape
    // that only exists while the index fits in a broadcast, i.e. never at
    // corpus scale (guide §3.1: pick the strategy deliberately).
    broadcast(local)
      .join(postings, "term")
      .join(terms, "term")
      .join(docNorms, "doc_id")
      .groupBy("query_id", "doc_id")
      .agg(sum(contribution).as("score_e6"))
  }

  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score_e6").desc, col("doc_id"))))
      .filter(col("rank") <= k)

  /** Top-`k` BM25 retrieval of `probes` (query_id, term) against the index
    * at `path`: (query_id, rank, doc_id, score_e6), rank 1-based by
    * (score_e6 DESC, doc_id) — fully deterministic. Probe terms absent
    * from the index contribute nothing; a query matching no document
    * yields no rows.
    */
  def search(spark: SparkSession, probes: DataFrame, path: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    topK(scoredCandidates(spark, probes, path), k)
      .select("query_id", "rank", "doc_id", "score_e6")
  }

  /** Default retrieval-decontamination threshold on the LENGTH-NORMALIZED
    * top-1 score, e6 fixed point: a train doc whose mean per-shingle BM25
    * contribution against its best-matching eval doc reaches 1.0 is
    * flagged. The raw top-1 score is length-confounded (a long clean doc
    * accumulates more incidental-overlap mass than a short verbatim
    * copy), so the statistic is norm_e6 = halfUp(score_e6 / n_shingles):
    * a near-verbatim copy matches essentially EVERY one of its shingles
    * against the source (norm ≈ a full idf·tfn contribution, 2-4 on a
    * thousands-of-docs suite), while incidental overlap matches a few
    * shingles out of the whole document (norm ≪ 1). Recalibrate per
    * corpus the same way: score a known-clean and a known-leaked sample,
    * split the gap. One shared constant — the q124 gate, the oracle SQL
    * and the ingest stage
    * ([[graft.pipeline.IngestPipeline.RetrievalDecontamConfig]]) all
    * reference it.
    */
  val ContaminationThresholdE6: Long = 1000000L

  /** Retrieval-based decontamination (the near-verbatim/paraphrase layer
    * the winnowing gate cannot see): for every train doc, its top-1 BM25
    * match against an eval-suite index ([[buildIndex]] over the suites —
    * built with `ngram = 2`-grade shingle terms, which discriminate even
    * on heavily shared vocabularies where unigram sets cannot; the grade
    * travels in the index layout, so probes match by construction).
    * Winnowing (q55/q82) catches verbatim ≥6-token runs; shingle BM25
    * catches the heavy lexical overlap that paraphrasing or light editing
    * leaves behind. Query shingles score as a BAG (the Robertson k3→∞
    * query-tf form — every occurrence contributes), so no probe dedup
    * exists anywhere in the sweep. Output (doc_id, eval_id, score_e6,
    * norm_e6, contaminated): the best-matching eval doc, the exact raw
    * integer score, its per-shingle normalization and the threshold flag
    * — the triage report a curator reads before training. Docs sharing no
    * shingle with any eval doc yield no row (nothing to triage).
    *
    * Scale shape: shingles explode through the codegen
    * [[Text.explodeNgrams]] path, the postings join broadcasts the EVAL
    * index (an eval suite is thousands of docs, bounded by contract —
    * never the corpus), so the train side streams through the joins
    * unshuffled and only matched (query, eval) pairs reach the
    * aggregation; the top-1 prunes map-side (WindowGroupLimit), and
    * n_shingles rides the group keys (it is functionally dependent on
    * query_id) so no join-back to the corpus happens anywhere.
    */
  def contaminationReport(
      train: DataFrame, textCol: String, idCol: String, path: String,
      thresholdE6: Long = ContaminationThresholdE6): DataFrame = {
    val keyed = train.select(col(idCol).cast("long").as("query_id"), col(textCol))
    normedTop1(keyed, textCol, path, extraKeys = Nil)
      .select(
        col("query_id").as("doc_id"),
        col("__eval_id").as("eval_id"),
        col("score_e6"),
        col("norm_e6"),
        (col("norm_e6") >= thresholdE6).cast("long").as("contaminated"))
  }

  /** The decontamination sweep's core: per (`extraKeys`, query) top-1
    * normalized shingle-BM25 score against the eval index. `extraKeys`
    * ride the group/window keys so one sweep can score several
    * populations at once ([[calibrateContaminationThreshold]]) without
    * their query ids colliding.
    */
  private def normedTop1(
      keyed: DataFrame, textCol: String, path: String,
      extraKeys: Seq[String]): DataFrame = {
    val spark = keyed.sparkSession
    val g = indexNgram(spark, path)
    val postings = graft.sources.Tables.parquetScan(spark, s"$path/postings")
      .withColumnRenamed("doc_id", "__eval_id")
    val terms = graft.sources.Tables.parquetScan(spark, s"$path/terms").select("term", "idf_e6")
    val docNorms = graft.sources.Tables.parquetScan(spark, s"$path/docs")
      .select(col("doc_id").as("__eval_id"), col("k_e6"))
    val withN = keyed
      .withColumn("n_sh",
        greatest(size(Text.tokens(col(textCol))) - (g - 1), lit(0)).cast("long"))
    val probes = Text.explodeNgrams(withN, textCol, g, out = "term")
      .select((extraKeys ++ Seq("query_id", "n_sh", "term")).map(col): _*)
    val contribution = ExactAgg.divHalfUp(
      col("idf_e6") * 22L * col("tf") * 100000L,
      col("tf") * IdfScale + col("k_e6"))
    // The per-posting contribution is QUERY-INDEPENDENT — query shingles
    // score as a bag, every occurrence adds the same amount — so it is
    // computed ONCE over the bounded eval index (|postings| rows, not
    // |matches|) and broadcast as a single (term, eval, contrib) table.
    // The corpus-side stream then pays one broadcast join and a bare sum
    // instead of three joins plus fixed-point arithmetic per match
    // (measured: the sf0.1 join stage drops ~2× — PLANS.md r16; identical
    // arithmetic on the same (idf_e6, tf, k_e6) triples, values unchanged).
    // Inverted from [[scoredAgainst]] deliberately: there the PROBES are
    // the small side and pre-scoring the whole index would be a scan of it.
    val contribTable = broadcast(
      postings
        .join(terms, "term")
        .join(docNorms, "__eval_id")
        .select(col("term"), col("__eval_id"), contribution.as("contrib_e6")))
    val scored = probes
      .join(contribTable, "term")
      .groupBy((extraKeys ++ Seq("query_id", "n_sh", "__eval_id")).map(col): _*)
      .agg(sum(col("contrib_e6")).as("score_e6"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy((extraKeys :+ "query_id").map(col): _*)
          .orderBy(col("score_e6").desc, col("__eval_id"))))
      .filter(col("rank") === 1)
      .withColumn("norm_e6", ExactAgg.divHalfUp(col("score_e6"), col("n_sh")))
  }

  /** Per-corpus recalibration of [[ContaminationThresholdE6]] as an
    * operator (the recipe documented on the constant, made executable):
    * score a known-CLEAN and a known-LEAKED sample against the same eval
    * index, and emit the one-row separation report a curator reads before
    * adopting a threshold — population sizes, how many of each actually
    * scored (a doc sharing no shingle with any eval doc yields no top-1
    * row: maximally clean on the clean side, NOT actually a leak on the
    * leaked side — both visible as scored < n), the populations' extreme
    * normalized scores, and the suggested threshold = the half-up midpoint
    * of the gap. `separated = 1` iff every leaked doc scored AND the
    * populations do not overlap (clean max < leaked min) — the suggestion
    * is only meaningful then; an overlapping report means the shingle
    * grade or the samples need work, and the flag says so instead of
    * letting a plausible-looking number ship.
    *
    * Scale shape: ONE unioned sweep — both samples stream against the
    * broadcast eval index together, tagged by population, with the tag on
    * the group/window keys so colliding doc ids between the samples
    * cannot cross-rank (r16 verdict: the original two-sweep form paid the
    * eval-index join twice plus two extra count actions). Two actions
    * total: the population-size count and the one-row report.
    */
  def calibrateContaminationThreshold(
      clean: DataFrame, leaked: DataFrame, textCol: String, idCol: String,
      path: String): DataFrame = {
    val tag = (df: DataFrame, pop: Int) => df.select(
      lit(pop).as("__pop"), col(idCol).cast("long").as("query_id"), col(textCol))
    val tagged = tag(clean, 0).unionByName(tag(leaked, 1))
    val ns = tagged.groupBy("__pop").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val (cleanN, leakedN) = (ns.getOrElse(0, 0L), ns.getOrElse(1, 0L))
    normedTop1(tagged, textCol, path, extraKeys = Seq("__pop"))
      .agg(
        count(when(col("__pop") === 0, lit(1))).as("clean_scored"),
        max(when(col("__pop") === 0, col("norm_e6"))).as("clean_max_e6"),
        count(when(col("__pop") === 1, lit(1))).as("leaked_scored"),
        min(when(col("__pop") === 1, col("norm_e6"))).as("leaked_min_e6"))
      .select(
        lit(cleanN).as("clean_n"), col("clean_scored"), col("clean_max_e6"),
        lit(leakedN).as("leaked_n"), col("leaked_scored"), col("leaked_min_e6"),
        (col("leaked_scored") === leakedN &&
          coalesce(col("clean_max_e6") < col("leaked_min_e6"), lit(false)))
          .cast("long").as("separated"),
        ExactAgg.divHalfUp(
          coalesce(col("clean_max_e6"), lit(0L)) + coalesce(col("leaked_min_e6"), lit(0L)),
          lit(2L)).as("suggested_e6"))
  }

  /** Hard ceiling on [[searchBucketed]]'s driver-collected distinct probe
    * terms. A probe batch is tens of queries × a handful of terms; a
    * caller feeding a corpus-sized relation would otherwise OOM the driver
    * or build a pathological IN list — the contract must fail loudly, not
    * degrade (r15 advice).
    */
  val MaxProbeTerms = 32768

  /** Hard ceiling on the scoring join's broadcast probe relation — distinct
    * (query_id, term) rows (r18; the pair-level twin of [[MaxProbeTerms]],
    * enforced in `collectProbes` so EVERY serve path — plain [[search]],
    * [[hardNegatives]], [[searchBucketed]] — fails loudly on a
    * contract-violating probe instead of OOMing the driver). 2^20 rows of
    * (long, short string) is a few tens of MB — far above any real probe
    * batch, far below broadcast limits.
    */
  val MaxProbePairs = 1 << 20

  /** [[search]] served from a TERM-BUCKETED postings catalog table (the
    * q77/q80 layout machinery, `Bucketing.ensureBm25Postings`): the
    * probe's distinct terms — a driver-side list bounded by the probe
    * batch contract, the IVF `isin` cell-pruning discipline — become a
    * literal `IN` filter on the bucket column, so the scan reads ONLY the
    * buckets holding probed terms (`SelectedBucketsCount` in the plan; at
    * a 100 TB postings table that is the difference between opening
    * |probe terms| buckets and listing every file). Bucket metadata rides
    * the catalog, scores are [[search]]'s exact integers, and the
    * postings side still reaches its join with zero Exchange. The probe
    * relation is evaluated ONCE: the term list is derived on the driver
    * from the same collected pairs the scoring join broadcasts.
    */
  def searchBucketed(
      spark: SparkSession, probes: DataFrame, postingsTable: String,
      path: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val local = collectProbes(spark, probes)
    // a driver-local relation: this collect runs no job over the probes
    val probeTerms = local.collect().map(_.getAs[String]("term")).distinct.sorted
    require(probeTerms.length <= MaxProbeTerms,
      s"searchBucketed probe batch exceeds $MaxProbeTerms distinct terms — " +
        "this serve path is for probe batches, not corpus-scale relations")
    val postings = spark.table(postingsTable)
      .filter(col("term").isin(probeTerms.toSeq: _*))
      .select("term", "doc_id", "tf")
    topK(scoredAgainst(spark, local, postings, path), k)
      .select("query_id", "rank", "doc_id", "score_e6")
  }
}
