package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CCNet-style n-gram language-model perplexity filtering: train an
  * order-n LM on a reference corpus, persist it as an INTEGER
  * log-probability artifact, and score documents by mean per-transition
  * log-probability — the quality signal CCNet/LLaMA-era curation actually
  * ranks Common Crawl with (a KenLM perplexity; CCNet's production filter
  * is a 5-gram model — `order` is the knob. [[QualityClassifier]] is the
  * discriminative sibling).
  *
  * Model order: a transition is (context, w) where context is the n−1
  * preceding tokens joined with one space (for the default order 2 the
  * context IS the previous token, so the artifact is the classic bigram
  * table). Add-one smoothing over contexts: p = (c(ctx,w)+1)/(c(ctx)+V),
  * V = distinct tokens appearing in any transition position.
  *
  * Fixed-point contract: floating point happens ONCE, at train time —
  * each probability becomes `lp_e4 = round(−10⁴·log₂ p)` and lands in the
  * persisted tables; scoring and the DuckDB oracle both consume the SAME
  * integer tables (the q100 shared-artifact discipline), so no engine ever
  * recomputes a logarithm and scores replay bit-identically. The driver-
  * side constant ([[lpE4]], the `defaults` row) quantizes via StrictMath
  * so that one value is platform-reproducible; the table columns quantize
  * through Spark's codegen `log2` + half-up `round`, which may differ from
  * StrictMath by an ulp on other platforms — the artifact is therefore
  * reproducible PER PERSISTED TRAIN (every consumer reads identical
  * integers), not bit-pinned across JVMs, and nothing downstream depends
  * on more.
  *
  * Model artifact layout at `path`:
  *   - `bigrams/`  (w1, w2, lp_e4): observed transitions (w1 = the joined
  *     n−1-token context, w2 = the next token),
  *     p = (c(w1,w2)+1)/(c(w1)+V)
  *   - `unigrams/` (w1, miss_lp_e4): the smoothed floor for an UNSEEN
  *     next token out of a known context, p = 1/(c(w1)+V)
  *   - `defaults/` (lp0_e4): the global floor for an unknown context,
  *     p = 1/V — one row, so every scoring constant comes from the
  *     artifact, never from code
  *   - `_GRAFT_LAYOUT` (v=<vocab>,lm=<version>,n=<order>): the smoothing
  *     denominator and the order travel with the model
  *     ([[IndexProtocol]] contract) — scoring derives its transition
  *     shape from the artifact, so a model can never be probed at the
  *     wrong order
  *
  * Scale shape: training is two hash aggregations over exploded
  * transitions (narrow (w1, w2) rows, one shuffle each); scoring joins
  * the batch's transitions against the model tables — no join strategy is
  * hinted, so the optimizer broadcasts a small model by size and degrades
  * to an ordinary (w1, w2)-keyed equi-join when a 100 TB reference corpus
  * makes the table exceed the broadcast threshold (an explicit hint here
  * would instead fail hard on the 8 GB broadcast cap — round-12 advice) —
  * followed by one per-doc aggregation. Nothing driver-side at any size.
  */
object LangModel {

  /** Scheme version — a stamp ingredient for persisted model fixtures.
    * (v2: the artifact records its order and supports n > 2.) */
  val LmVersion = 2

  private def lpE4(p: Double): Long =
    Math.round(-10000.0 * StrictMath.log(p) / StrictMath.log(2.0))

  /** Column form of [[lpE4]] over a probability ratio num/den — built-in
    * log2 + half-up round, so quantization stays inside codegen (no UDF).
    * The artifact persists the RESULT, so every consumer — scoring,
    * replays, the oracle — reads identical integers regardless of where
    * the model was trained (see the reproducibility note in the scaladoc).
    */
  private def lpE4Col(num: Column, den: Column): Column =
    round(lit(-10000.0) * log2(num / den)).cast("long")

  /** (context, next-token) transitions of a text column under the
    * engine-wide single-space tokenizer: one row per position i in
    * [order, len], context = tokens[i−order+1 .. i−1] joined with one
    * space, w2 = tokens[i]. With `padShortDocs`, a document with fewer
    * than `order` tokens emits ONE all-null row instead of none — the
    * scoring aggregation counts only non-null transitions, so short docs
    * surface as (0, 0) WITHOUT a join-back against the corpus (which
    * planned as a second doc_id exchange + sort-merge join — plan-audit
    * finding).
    */
  private def transitions(
      docs: DataFrame, textCol: String, idCol: String, order: Int,
      padShortDocs: Boolean = false): DataFrame = {
    require(order >= 2, s"LM order must be >= 2, got $order")
    val t = Text.tokens(col(textCol))
    // `order` shifted copies of the token array, sliced ONCE per document
    // and zipped — each element k of the zip holds tokens[i+k] for
    // transition i. A per-element slice+join (transform over an index
    // range) planned 6× slower at sf0.1: array slicing inside the lambda
    // re-allocates per TOKEN, this form only per document.
    val m = greatest(size(t) - (order - 1), lit(0))
    val zipped = arrays_zip(
      (0 until order).map(k => slice(t, lit(k + 1), m).as(s"c$k")): _*)
    val pairs = transform(zipped, s => {
      val ctx =
        if (order == 2) s.getField("c0")
        else concat_ws(" ", (0 until order - 1).map(k => s.getField(s"c$k")): _*)
      struct(ctx.as("w1"), s.getField(s"c${order - 1}").as("w2"))
    })
    val nullPad = array(struct(
      lit(null).cast("string").as("w1"), lit(null).cast("string").as("w2")))
    val src = if (padShortDocs)
      when(size(pairs) > 0, pairs).otherwise(nullPad) else pairs
    docs
      .select(col(idCol), explode(src).as("__tr"))
      .select(col(idCol),
        col("__tr").getField("w1").as("w1"),
        col("__tr").getField("w2").as("w2"))
  }

  /** Distinct-token count over transition rows: contexts split back into
    * their constituent tokens plus the next-token position — for order 2
    * this is exactly the distinct over both positions. One exact distinct
    * count, never collected.
    */
  private def vocabSize(tr: DataFrame): Long =
    math.max(
      tr.select(explode(concat(split(col("w1"), " ", -1), array(col("w2")))).as("w"))
        .agg(countDistinct(col("w"))).head().getLong(0),
      1L)

  /** Transition counts (w1, w2, c) of a corpus at the given order. */
  private def pairCounts(docs: DataFrame, textCol: String, order: Int): DataFrame =
    transitions(docs.withColumn("__lm_id", lit(0L)), textCol, "__lm_id", order)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))

  /** Train and persist an order-n model from a reference corpus. One pass:
    * transitions exploded once and counted per (w1, w2); [[writeModel]]
    * derives the three artifact tables.
    */
  def train(docs: DataFrame, textCol: String, path: String, order: Int = 2): Unit =
    writeModel(docs.sparkSession, pairCounts(docs, textCol, order), order, path)

  /** Write the served model at `dir` from transition counts (w1, w2, c):
    * the three tables and the layout. The ONE place the smoothing and
    * quantization live, shared by [[train]] and [[refreshModel]], so a
    * one-shot train and an install+appends+refresh cannot drift. V counts
    * the distinct tokens of the counted pairs — exactly the tokens of the
    * raw transitions they count.
    */
  private def writeModel(
      spark: SparkSession, counts: DataFrame, order: Int, dir: String): Unit = {
    import spark.implicits._
    val big = counts.localCheckpoint(false) // feeds the bigram table, the w1 margins and V
    val uni = big.groupBy("w1").agg(sum(col("c")).as("c1"))
    val V = vocabSize(big)
    big.join(uni, "w1")
      .select(col("w1"), col("w2"),
        lpE4Col(col("c") + 1, col("c1") + V).as("lp_e4"))
      .write.mode("overwrite").parquet(s"$dir/bigrams")
    uni
      .select(col("w1"), lpE4Col(lit(1), col("c1") + V).as("miss_lp_e4"))
      .write.mode("overwrite").parquet(s"$dir/unigrams")
    Seq(lpE4(1.0 / V.toDouble)).toDF("lp0_e4")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/defaults")
    IndexProtocol.writeLayout(spark, dir, "v" -> V, "lm" -> LmVersion, "n" -> order)
  }

  /** The model's recorded (vocabulary size, order). The version check
    * rejects pre-order artifacts (scheme v1) — retrain, don't guess. */
  def readModelMeta(spark: SparkSession, path: String): (Long, Int) = {
    val layout = IndexProtocol.readLayout(spark, path)
    val meta = (layout.long("v"), layout.int("n"))
    layout.requireScheme("lm", LmVersion, "LM", remedy = "retrain it")
    meta
  }

  /** The model's recorded vocabulary size (smoothing denominator). */
  def readVocabSize(spark: SparkSession, path: String): Long =
    readModelMeta(spark, path)._1

  // ------------------------------------------------- incremental counts

  /** The incremental flavor (q108): transition-count FACTS live as a
    * generational persisted index — `counts/` generations of
    * (w1, w2, src, c) rows under the [[IndexProtocol]] crash protocol,
    * exactly the span-count index's shape — and the SERVED artifact (the
    * `model/` tables [[scoreDocs]] reads) is re-derived from the
    * accumulated facts on maintenance cadence via a staged swap. A
    * training corpus that grows by ingest batches then pays one O(batch)
    * count pass per batch, not an O(corpus) retrain: counts are the
    * sufficient statistics of this model, so refresh-from-facts is
    * EXACTLY a full retrain (`LangModelSpec` pins the two byte-equal).
    *
    * Crash windows, by construction: appends are atomic generation
    * publishes (replay no-ops); the refresh reads `distinct` facts (a
    * fold's post-swap duplicate generations sum once — the span-index
    * argument verbatim) and swaps the model in whole; scoring between
    * refreshes sees the previous model, which is the frozen-artifact
    * contract the ingest gate already requires.
    */
  private def countsRoot(path: String) = s"$path/counts"

  /** Served-model root under an incremental install — pass to
    * [[scoreDocs]]/[[readVocabSize]]. */
  def modelRoot(path: String): String = s"$path/model"

  private def countFacts(
      docs: DataFrame, path: String, textCol: String, order: Int,
      generation: Long): IndexProtocol.GenerationRows =
    IndexProtocol.GenerationRows(countsRoot(path), pairCounts(docs, textCol, order)
      .select(col("w1"), col("w2"), lit(generation).as("src"), col("c")))

  /** Install a count index from a history corpus (generation 0) and
    * derive the first served model. The order is recorded in the index
    * layout — appends and refreshes inherit it. */
  def installCountIndex(
      history: DataFrame, textCol: String, path: String, order: Int = 2): Unit = {
    val spark = history.sparkSession
    IndexProtocol.install(spark, path, Seq("lm" -> LmVersion, "n" -> order), 0L,
      countFacts(history, path, textCol, order, generation = 0L))
    refreshModel(spark, path)
  }

  /** The count index's recorded order (validates the scheme version). */
  private def readCountIndexOrder(spark: SparkSession, path: String): Int = {
    val layout = IndexProtocol.readLayout(spark, path)
    val order = layout.int("n")
    layout.requireScheme("lm", LmVersion, "LM count index")
    order
  }

  /** Publish one batch's transition counts as its own immutable
    * generation, at the index's recorded order. Returns false for an
    * already-published generation (replay no-op), like every generational
    * append. */
  def appendCounts(
      batch: DataFrame, path: String, generation: Long,
      textCol: String = "text"): Boolean = {
    val order = readCountIndexOrder(batch.sparkSession, path)
    IndexProtocol.publishGeneration(generation,
      countFacts(batch, path, textCol, order, generation))
  }

  def countIndexReadable(spark: SparkSession, path: String): Boolean =
    IndexProtocol.generationalReadable(spark, path, Seq("counts"))

  /** Fold count generations ≤ upToGen into one (membership-fact argument:
    * rows are (w1, w2, src, c) facts, duplicates from a crashed fold sum
    * once through the refresh's distinct). */
  def compactCountIndex(spark: SparkSession, path: String, upToGen: Long): Unit =
    IndexProtocol.compactGenerational(spark, countsRoot(path), upToGen)

  /** Re-derive the served model from the accumulated facts and swap it
    * in — [[writeModel]] over summed counts, so an install+appends+refresh
    * equals a full retrain on the union corpus. */
  def refreshModel(spark: SparkSession, path: String): Unit = {
    if (!countIndexReadable(spark, path)) return
    val order = readCountIndexOrder(spark, path)
    val counts = IndexProtocol.readFacts(spark, countsRoot(path), "w1", "w2", "src", "c")
      .groupBy("w1", "w2").agg(sum(col("c")).as("c"))
    graft.sinks.Sinks.replaceTable(spark, modelRoot(path)) { next =>
      writeModel(spark, counts, order, next)
    }
  }

  /** Score documents against a persisted model: per doc, the number of
    * transitions and the mean per-transition log₂-probability in e4 units
    * (half-up — [[ExactAgg.divHalfUp]], mirrored in the oracle). The
    * transition shape (order) comes from the artifact's layout. Lower is
    * more fluent under the reference corpus; `ppl_e4 = 0` with
    * `n_transitions = 0` for docs shorter than the order (nothing to
    * score, kept rather than crashed — the caller's ladder decides their
    * fate). Transition log-probs resolve hit → known-context floor →
    * global floor, every value read from the artifact.
    */
  def scoreDocs(
      docs: DataFrame, textCol: String, idCol: String, path: String): DataFrame = {
    val spark = docs.sparkSession
    val (_, order) = readModelMeta(spark, path) // version check up front
    val bigrams = graft.sources.Tables.parquetScan(spark, s"$path/bigrams")
    val unigrams = graft.sources.Tables.parquetScan(spark, s"$path/unigrams")
    val lp0 = graft.sources.Tables.parquetScan(spark, s"$path/defaults").head().getLong(0)
    // short docs ride the SAME explode as a null pad, so one aggregation
    // keyed on the doc id is the whole plan — scan → explode → two model
    // joins (broadcast by SIZE, not by hint — a huge model degrades to an
    // equi-join instead of tripping the broadcast cap) → partial agg →
    // one id exchange → final agg (no corpus join-back; plan-asserted in
    // PlanAuditSpec)
    transitions(docs, textCol, idCol, order, padShortDocs = true)
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(unigrams, Seq("w1"), "left")
      .select(col(idCol),
        col("w1"),
        when(col("w1").isNotNull,
          coalesce(col("lp_e4"), col("miss_lp_e4"), lit(lp0))).as("__lp"))
      .groupBy(idCol)
      .agg(count(col("w1")).as("n_transitions"), sum(col("__lp")).as("__lp_sum"))
      .select(col(idCol),
        col("n_transitions"),
        when(col("n_transitions") === 0, lit(0L))
          .otherwise(ExactAgg.divHalfUp(col("__lp_sum"), col("n_transitions")))
          .as("ppl_e4"))
  }
}
