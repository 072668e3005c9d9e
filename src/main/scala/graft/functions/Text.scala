package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline: tokenization,
  * quality scoring, language ID, fingerprinting. All pure Column expressions
  * (higher-order array functions, no UDFs) so they stay codegen-friendly and
  * distribute trivially — each document is scored independently on its
  * partition.
  */
object Text {

  /** SINGLE-SPACE tokens — deliberately the literal U+0020 delimiter, not
    * a whitespace class: this is the engine-wide tokenizer contract that
    * every DuckDB oracle reproduces verbatim as `string_split(text, ' ')`,
    * and regex/whitespace splitting does not round-trip identically across
    * engines. Corollaries a caller must know: newline/tab-separated text
    * must be whitespace-normalized to single spaces upstream (a
    * `regexp_replace(text, "\\s+", " ")` ingest step; [[scrub]] collapses
    * only SPACE runs) or it tokenizes as ONE token, and consecutive
    * spaces yield empty-string tokens that count.
    */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-token count: alphanumeric runs via regexp (regexp_count is
    * codegen'd; cheaper than materializing the token array).
    */
  def regexTokenCount(text: Column): Column = regexp_count(text, lit("[A-Za-z0-9]+"))

  /** GPT-2-style pre-tokenizer segmentation pattern: English contractions,
    * space-attached letter runs, number runs, other-symbol runs — the
    * standard BPE pre-split, minus the lookahead tricks. Letter/number
    * classes are the UNICODE categories `\p{L}`/`\p{N}` (round-7 upgrade
    * from the ASCII `[A-Za-z]`/`[0-9]` subset, which counted every
    * non-Latin run as one "other" piece and understated multilingual token
    * budgets): Java regex and DuckDB's RE2 both implement the Unicode
    * general categories and leftmost-first ordered alternation, verified
    * PIECE-IDENTICAL cross-engine on a 19-string battery spanning CJK,
    * Cyrillic, Arabic (+Arabic-Indic digits), Devanagari, Thai, fullwidth
    * and halfwidth forms, supplementary-plane letters, combining marks,
    * vulgar fractions (No), roman numerals (Nl) and emoji
    * (`TextSpec` keeps the per-script counts as a regression pin). ONE
    * definition feeds both the Spark expression and the generated oracle
    * SQL, so the two can't drift.
    */
  val BpeishPattern: String =
    "'(s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\p{L}\\p{N} ]+"

  /** Number of BPE-ish pre-token pieces ([[BpeishPattern]]) — the
    * tokens-per-word signal an LLM-data pipeline budgets corpora with
    * (pieces ≈ what a trained BPE vocabulary would start from). Pure
    * codegen `regexp_count`; no array materialization.
    */
  def bpeishCount(text: Column): Column = regexp_count(text, lit(BpeishPattern))

  /** Word n-grams (shingles), exploded to one row per n-gram.
    *
    * The per-shingle work is `element_at` + `concat_ws` over an exploded
    * index range — all codegen'd. The earlier Column-returning form
    * (`transform(sequence(...), i => concat_ws(slice(...)))`) evaluated
    * every shingle through Spark's interpreted higher-order-function lambda
    * machinery and was the single most expensive text pass in the round-1
    * bench (~10× the codegen cost). Shingling is the workhorse of corpus
    * dedup, so it must stay inside WholeStageCodegen.
    *
    * Documents with fewer than n tokens emit no rows (the `when` yields a
    * null sequence, which explode drops).
    */
  def explodeNgrams(df: DataFrame, textCol: String, n: Int, out: String = "ng"): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val toks = col("__toks")
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("__i",
        explode(when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))))
      .withColumn(out,
        concat_ws(" ", (0 until n).map(j => element_at(toks, col("__i") + j)): _*))
      .drop("__toks", "__i")
  }

  val defaultStopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val t = tokens(text)
    size(filter(t, w => w.isInCollection(stopwords))).cast("double") / size(t)
  }

  /** Mean token length (token chars only, separators excluded). */
  def avgTokenLen(text: Column): Column = {
    val t = tokens(text)
    (length(text) - (size(t) - 1)).cast("double") / size(t)
  }

  /** Heuristic quality bucket from length + stopword evidence — the shape of
    * Gopher/C4-style quality rules (length bounds, stop-word presence).
    */
  def qualityBucket(text: Column): Column = {
    val n = tokenCount(text)
    when(n < 5, "TOO_SHORT")
      .when(n > 5000, "TOO_LONG")
      .when(stopwordRatio(text) >= 0.05, "OK_FLUENT")
      .otherwise("OK_TERSE")
  }

  /** N-gram-evidence language ID: scores each language by occurrences of its
    * marker words and picks the argmax (deterministic tiebreak by priority
    * order). A real system uses char-n-gram profiles; the Spark-side shape —
    * per-language evidence columns then a greatest/when ladder — is the same.
    */
  def langIdScore(text: Column, markers: Map[String, Seq[String]]): Column = {
    require(markers.nonEmpty, "langIdScore needs at least one language's markers")
    val t = tokens(text)
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      (lang, size(filter(t, w => w.isInCollection(words))))
    }
    if (scored.length == 1) lit(scored.head._1)
    else {
      // argmax as ONE `greatest` over (score, −index) structs + an
      // element_at name lookup — LINEAR expression size. The previous
      // when-ladder fold embedded the running best-score subtree twice per
      // step, doubling the tree per language (~2^L leaves: fine at the
      // reference's 3 languages, analysis-explosive at a realistic 20 —
      // review finding). Tiebreak unchanged: highest score, then the
      // alphabetically-first language (largest −index = smallest index).
      val structs = scored.zipWithIndex.map { case ((_, score), i) =>
        struct(score.as("s"), lit(-i).as("ni"))
      }
      val bestIdx = -greatest(structs: _*).getField("ni")
      element_at(array(scored.map(s => lit(s._1)): _*), bestIdx + 1)
    }
  }

  /** Stable 128-bit content fingerprint (hex md5). Used as the exact-dedup
    * key so the shuffle key is 16 bytes instead of the full document text.
    */
  def fingerprint(text: Column): Column = md5(text)

  /** [[fingerprint]] packed to its raw 16 bytes (`unhex` of the hex md5) —
    * the storage form for the persisted fingerprint index
    * ([[Dedup.writeFingerprintIndex]]), where halving the 32-byte hex
    * rendering matters: the index is re-read every ingest batch, so its
    * bytes/doc IS the steady-state dedup I/O cost.
    */
  def fingerprintBinary(text: Column): Column = unhex(md5(text))

  /** Winnowing document fingerprints (the rolling-hash scheme of MOSS /
    * Schleimer et al. 2003): hash every word k-gram, slide a w-gram window
    * over the hash sequence, keep each window's minimum — the selected
    * hashes are a position-robust fingerprint set guaranteeing any shared
    * run of ≥ w+k−1 tokens yields a shared fingerprint.
    *
    * Plan: k-gram explode (codegen, as [[explodeNgrams]]) → md5-derived
    * hash → per-doc ordered window min over w rows (one shuffle on doc id,
    * narrow (id, pos, hash) rows) → distinct. Per-key window skew caveat as
    * for the as-of join.
    *
    * Output: (idCol, fp) — the distinct selected fingerprints per document
    * (documents shorter than k+w−1 tokens emit their available minima;
    * shorter than k emit none).
    *
    * DELIBERATE deviation from the paper: the first w−1 positions of EVERY
    * document window over truncated prefix frames, so each document also
    * selects minima of its opening k-grams (the paper's scheme windows
    * full frames only). The w+k−1-token detection guarantee is unaffected
    * (extra selections only ADD detections); the flip side is that a
    * collision's minimum evidence can be a single shared k-token opening
    * rather than a full w+k−1-token run — conservative over-flagging,
    * which is the right failure direction for decontamination, and
    * openings are exactly where verbatim reuse concentrates. The DuckDB
    * oracles and the persisted eval-index format pin these semantics
    * (`ROWS BETWEEN w−1 PRECEDING AND CURRENT ROW` truncates prefix
    * frames identically).
    */
  def winnowFingerprints(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 3,
      w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(idCol).orderBy("pos").rowsBetween(-(w - 1), 0)
    kgramHashes(docs, textCol, idCol, k)
      .select(col(idCol), min(col("h")).over(win).as("fp"))
      .distinct()
  }

  /** The (id, pos, h) k-gram hash relation both winnowing variants window
    * over: one codegen explode pass, hashes from [[Dedup.tokenHash64]].
    */
  private def kgramHashes(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val toks = col("__toks")
    docs
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__i",
        explode(when(size(toks) >= k, sequence(lit(1), size(toks) - (k - 1)))))
      .select(col(idCol), col("__i").as("pos"),
        Dedup.tokenHash64(
          concat_ws(" ", (0 until k).map(j => element_at(toks, col("__i") + j)): _*)).as("h"))
  }

  /** Skew-resistant [[winnowFingerprints]]: the per-document ordered window
    * serializes each document on one task, so one pathological document
    * (10⁸ tokens of concatenated boilerplate) stalls its whole stage — the
    * same hot-key hazard as the as-of join, remedied the window-specific
    * way. Positions are split into contiguous `chunkSize` chunks and the
    * window runs per (doc, chunk); each chunk's first w−1 frames need the
    * previous chunk's tail, so those w−1 boundary rows are REPLICATED into
    * the next chunk as context rows (they participate in frames but their
    * own minima are dropped — a context row's frame is truncated and would
    * emit a wrong/partial minimum). Every window partition is thus bounded
    * by chunkSize + w − 1 rows regardless of document length, and the
    * selected fingerprint set is IDENTICAL to the unsalted form
    * (spec-asserted on multi-chunk fixtures).
    */
  def winnowFingerprintsSalted(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 3,
      w: Int = 4,
      chunkSize: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chunkSize >= w, s"chunkSize ($chunkSize) must be >= window size ($w)")
    val grams = kgramHashes(docs, textCol, idCol, k)
    val home = floor((col("pos") - 1) / chunkSize)
    val homed = grams
      .withColumn("__chunk", home)
      .withColumn("__ctx", lit(0))
    val carried = grams
      .filter(pmod(col("pos") - 1, lit(chunkSize)) >= chunkSize - (w - 1))
      .withColumn("__chunk", home + 1)
      .withColumn("__ctx", lit(1))
    val win = Window.partitionBy(col(idCol), col("__chunk"))
      .orderBy("pos").rowsBetween(-(w - 1), 0)
    homed.unionByName(carried)
      .select(col(idCol), col("__ctx"), min(col("h")).over(win).as("fp"))
      .filter(col("__ctx") === 0)
      .select(col(idCol), col("fp"))
      .distinct()
  }

  /** Per-document top-k TF-IDF terms with an EXACT rational idf:
    * score_e4 = tf · round_half_up((N+1)·10⁴ / (df+1)) — pure int64
    * arithmetic end to end, so scores (and rank order, term-tiebroken)
    * are bit-identical in any engine.
    *
    * The rational idf surrogate (N+1)/(df+1) replaces the earlier
    * ln-damped form deliberately: JVM `Math.log` and libm `log` are each
    * licensed 1 ulp of error and need not agree bitwise, so a floored
    * ln-based fixed-point score can flip at unit boundaries between
    * engines — unacceptable for a hash-compared result. The log-damped
    * sklearn-parity flavor remains available as [[tfidfTopTermsLog]].
    *
    * Plan: explode → (doc, term) counts → term document-frequencies (both
    * two-phase hash aggregates with map-side combine) → score → per-doc
    * top-k window over NARROW (doc, term, score) rows, pruned map-side by
    * WindowGroupLimit. The corpus size is a 1-row aggregate broadcast into
    * the score projection.
    */
  def tfidfTopTerms(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf feeds the df aggregate AND the score join's left side — pin it so
    // the explode+aggregate (the dominant cost) runs once. localCheckpoint,
    // not persist: a lazy-result function has no safe unpersist point
    // (same reasoning as [[graft.functions.Dedup.minhashCandidates]]).
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"),
        (col("tf") * ExactAgg.divHalfUp((col("n_docs") + 1) * 10000, col("df") + 1))
          .as("score_e4"))
    val w = Window.partitionBy(idCol).orderBy(col("score_e4").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** sklearn-parity TF-IDF top-k (smoothed log idf:
    * tf · (ln((N+1)/(df+1)) + 1)). Same plan shape as [[tfidfTopTerms]];
    * scores are doubles and may differ by 1 ulp across engines/libms, so
    * this flavor is for in-engine use, not cross-engine hash comparison.
    */
  def tfidfTopTermsLog(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same single-evaluation pin as [[tfidfTopTerms]]
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"),
        (col("tf") * (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1))
          .as("score"))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Corpus-global boilerplate detection (the C4/RefinedWeb-style pass that
    * drops navigation chrome, cookie banners and license headers): an
    * n-gram is BOILERPLATE when it appears in more than `dfThreshold`
    * distinct documents; each document is scored by the fraction of its
    * n-gram positions covered by boilerplate grams, and kept when the
    * fraction (in exact basis points, [[ExactAgg.divHalfUp]]) is at most
    * `maxRatioE4`.
    *
    * Scale shape: the n-gram explode is the [[explodeNgrams]] codegen pass,
    * but every shuffle after it carries the 60-bit [[Dedup.tokenHash64]] of
    * the gram, never the gram text — (id, hash, cnt) rows into a two-phase
    * count. Only grams with `df > dfThreshold` affect the result, so the
    * document-frequency relation is filtered down to the BOILERPLATE
    * vocabulary before it ever meets `perDoc` again: `n_grams` comes from
    * `perDoc` alone, and `n_boiler` from a broadcast LEFT join against the
    * filtered vocabulary. At a 10⁹-distinct-gram corpus this broadcasts the
    * ~10⁴ grams repetitive enough to clear the cutoff instead of shuffling
    * the full vocabulary. Collisions of the 60-bit hash
    * conflate two grams' frequencies — at ~10⁹ distinct grams the birthday
    * bound is ~0.04%% of pairs, noise against a >dfThreshold cutoff (and
    * the DuckDB oracle reproduces the identical hashing, so the gate is
    * still exact).
    *
    * The broadcast is GUARDED, not assumed: boilerplate is by definition a
    * small set of very frequent grams, but a pathological corpus where
    * most grams clear `dfThreshold` would make the "tiny" vocabulary
    * corpus-sized and a blind broadcast hint a driver OOM. `perDoc` is
    * persisted (it feeds both the vocabulary aggregate and the scoring
    * join — previously it was simply computed twice), the vocabulary is
    * counted, and only a vocabulary within `maxBroadcastVocab` rows gets
    * the hint; above it the join is left to AQE, which shuffles the (id,
    * hash, cnt) rows — slower, never a memory hazard (spec:
    * `TextSpec` "boilerplate broadcast guard").
    *
    * Output: (idCol, n_grams, n_boiler, boiler_e4, keep) — documents with
    * fewer than n tokens emit no grams and are absent, as in
    * [[explodeNgrams]].
    *
    * CACHE CONTRACT: the returned plan reads the persisted `perDoc`
    * relation (it feeds the vocabulary aggregate, already materialized by
    * the guard count, AND the scoring join), and Spark offers no hook to
    * unpersist when a lazily-returned DataFrame is finally consumed — so
    * the cached relation lives until the caller clears it. Callers own the
    * cleanup (`spark.catalog.clearCache()` or unpersisting via the
    * catalog), as the bench harness does between queries; a loop that
    * calls this form without it keeps one disk-persisted relation per call
    * for the SparkContext lifetime.
    */
  def boilerplateStats(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      dfThreshold: Long = 10L,
      maxRatioE4: Long = 5000L,
      maxBroadcastVocab: Long = 5000000L): DataFrame = {
    val grams = explodeNgrams(docs.select(col(idCol), col(textCol)), textCol, n)
      .select(col(idCol), Dedup.tokenHash64(col("ng")).as("h"))
    val perDoc = grams.groupBy(idCol, "h").agg(count(lit(1)).as("c")).persist()
    val boilerVocab = perDoc.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfThreshold)
      .select(col("h"), lit(1L).as("is_boiler"))
    // one bounded action: materializes perDoc (reused by the join below)
    // and sizes the vocabulary so the broadcast hint is earned, not blind
    val vocabSide =
      if (boilerVocab.count() <= maxBroadcastVocab) broadcast(boilerVocab)
      else boilerVocab
    perDoc.join(vocabSide, Seq("h"), "left")
      .groupBy(idCol)
      .agg(
        sum(col("c")).as("n_grams"),
        sum(when(col("is_boiler").isNotNull, col("c")).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_e4", ExactAgg.divHalfUp(col("n_boiler") * 10000, col("n_grams")))
      // int64 0/1, not BOOLEAN: oracled output columns stay inside the
      // proven hasher-safe type envelope (see q39's note in registry.RelationalQueries)
      .withColumn("keep", (col("boiler_e4") <= maxRatioE4).cast("long"))
  }

  /** Non-overlapping k-token span segmentation pattern: each match greedily
    * consumes up to k space-separated tokens, so successive matches tile the
    * document into ⌈tokens/k⌉ spans with a short tail. ONE regex constant
    * feeds the Spark expression and the generated DuckDB oracle SQL (the
    * q68/[[BpeishPattern]] contract: Java regex and RE2 agree on character
    * classes, bounded greedy repetition and leftmost-first matching — no
    * lookaround), so the two engines segment identically.
    *
    * Deliberate deviation from the [[tokens]] contract: spans are runs of
    * NON-SPACE tokens, so consecutive spaces never produce empty-string
    * span members and leading/trailing spaces are skipped (the
    * single-space tokenizer would count them). Tokens pair into one span
    * only across a SINGLE space — a double space splits the tiling there
    * (spec-pinned). Span ops define their own segmentation because a
    * scrubbed document is re-rendered single-spaced regardless.
    */
  def spanPattern(k: Int): String = {
    require(k >= 1, s"span size must be >= 1, got $k")
    s"[^ ]+( [^ ]+){0,${k - 1}}"
  }

  /** The document's k-token spans, in order, as `array<string>`. ONE codegen
    * `regexp_extract_all` pass — O(chars) per row, no token-array
    * materialization, no shuffle. Null text yields an EMPTY span array (not
    * null): every downstream consumer wants "no spans", and `size(null)` is
    * −1 under the legacy default, a foot-gun the coalesce removes.
    */
  def spanChunks(text: Column, k: Int): Column =
    coalesce(
      regexp_extract_all(text, lit(spanPattern(k)), lit(0)),
      typedlit(Array.empty[String]))

  /** Corpus-wide hot-span scrub — the C4/RefinedWeb-style line-dedup pass
    * (Raffel et al. 2020 §2.2 discard repeated three-sentence spans;
    * RefinedWeb's line-level dedup): any k-token span whose exact text
    * occurs ≥ `minCount` times across the corpus (counting multiplicity) is
    * boilerplate — navigation chrome, license headers, templated intros —
    * and is removed from EVERY document; the cleaned text is the surviving
    * spans re-joined in order.
    *
    * Differs from [[boilerplateStats]] (which only SCORES documents by
    * boilerplate ratio): this op rewrites the text, which is what the
    * training pipeline actually feeds downstream.
    *
    * Scale shape (two corpus passes on the standard path):
    * 1. Count pass: span explode (codegen) → md5-derived 60-bit span hash
    *    ([[Dedup.tokenHash64]]) → count per hash. The shuffle carries ONLY
    *    (long, count) — document text never shuffles. ONE bounded
    *    `take(cap+1)` both sizes the hot set and materializes it (a
    *    count-then-collect pair would run this pass twice).
    * 2. Rewrite pass: hot spans are corpus OUTLIERS by construction (a span
    *    repeated ≥ minCount times), so the hot-hash set is model-sized;
    *    under `maxBroadcastHot` it ships in the plan (≤8 B/entry) and the
    *    rewrite is a pure per-row array filter — [[LongSet.contains]]
    *    binary-search membership, O(spans · log |hot|) per row, ZERO
    *    shuffle. Above the ceiling the op degrades to the join form:
    *    explode → broadcast-anti against the hot set (re-executing the
    *    count aggregate — a third pass, the price of a set too big for the
    *    plan) → ordered re-assembly (one (id, pos, span) shuffle) — the
    *    q82 blocklist degrade contract.
    *
    * Hash semantics: membership is tested on the 60-bit hash on BOTH
    * engines (the DuckDB oracle counts and matches the same
    * md5-substring hash), so a collision — ~n²/2⁶¹ at corpus scale —
    * cannot cause cross-engine drift, only an over-scrub both engines
    * agree on.
    *
    * Output: (idCol, n_spans, n_hot, clean_text), one row per input
    * document; a fully-hot document keeps an empty clean_text. The
    * over-ceiling path re-assembles by `idCol` and therefore requires it
    * unique per row (the [[scrubAgainstHotList]] precondition).
    */
  def hotSpanScrub(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 4,
      minCount: Long = 3L,
      maxBroadcastHot: Long = 1L << 20): DataFrame = {
    val spans = docs.select(col(idCol), spanChunks(col(textCol), k).as("__spans"))
    val hot = spans
      .select(explode(col("__spans")).as("__ch"))
      .select(Dedup.tokenHash64(col("__ch")).as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select("__h")
    val nSpans = size(col("__spans")).cast("long")
    // ONE bounded action sizes AND (under the ceiling) materializes the hot
    // set — a count-then-collect pair would execute the full corpus
    // explode+aggregate twice back to back (review finding); take(cap+1)
    // is bounded driver memory by the same ceiling contract
    val hotRows = hot.take(boundedHotCap(maxBroadcastHot) + 1)
    if (hotRows.length <= boundedHotCap(maxBroadcastHot)) {
      val kept = keptSpans(col("__spans"), hotRows.map(_.getLong(0)))
      spans.select(
        col(idCol),
        nSpans.as("n_spans"),
        (nSpans - size(kept).cast("long")).as("n_hot"),
        concat_ws(" ", kept).as("clean_text"))
    } else {
      // over the ceiling the anti-join re-executes the hot aggregate (a
      // third corpus pass — the price of a hot set too big to ship in the
      // plan). Totals come from the un-exploded projection: a FULLY-hot
      // document loses every exploded row to the anti-join and must still
      // emit its (n_spans, n_hot, "") row.
      spans.select(col(idCol), nSpans.as("n_spans"))
        .join(reassembleKept(spans, idCol, hot), Seq(idCol), "left")
        .select(
          col(idCol),
          col("n_spans"),
          (col("n_spans") - coalesce(col("__n_kept"), lit(0L))).as("n_hot"),
          coalesce(col("__clean"), lit("")).as("clean_text"))
    }
  }

  /** Clamp a caller's broadcast ceiling to what a driver-side take can
    * actually materialize (guards the `Long.MaxValue`-ceiling overflow). */
  private def boundedHotCap(maxBroadcastHot: Long): Int =
    math.max(0L, math.min(maxBroadcastHot, (Int.MaxValue >> 4).toLong)).toInt

  /** The over-ceiling reassembly kernel, shared by [[hotSpanScrub]] and
    * [[scrubAgainstHotList]] (review finding: it was duplicated line for
    * line): explode the spans, drop hot-hash members via broadcast-anti,
    * group back per id in span order. Documents with no surviving spans
    * emit NO row — callers left-join and coalesce. Requires `idCol` unique
    * per row (the degrade-path precondition).
    */
  private def reassembleKept(
      spans: DataFrame, // (idCol, __spans: array<string>)
      idCol: String,
      hot: DataFrame): DataFrame = // one hash column, any name
    spans
      .select(col(idCol), posexplode(col("__spans")).as(Seq("__pos", "__ch")))
      .withColumn("__h", Dedup.tokenHash64(col("__ch")))
      .join(hot.select(col(hot.columns.head).as("__h")), Seq("__h"), "left_anti")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("__n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__ch")))),
            s => s.getField("__ch")),
          " ").as("__clean"))

  /** The surviving spans of a span array against a sorted hot-hash set —
    * the shared rewrite kernel of [[hotSpanScrub]]'s plan-literal path and
    * the incremental scrub ([[scrubAgainstHotList]]): per-element
    * [[LongSet]] binary-search membership, zero shuffle.
    */
  private def keptSpans(spans: Column, hotSorted: Array[Long]): Column =
    filter(spans, c => !LongSet.contains(Dedup.tokenHash64(c), hotSorted))

  /** `text` with every hot span removed, re-rendered single-spaced. */
  def scrubSpansColumn(text: Column, k: Int, hotSorted: Array[Long]): Column =
    concat_ws(" ", keptSpans(spanChunks(text, k), hotSorted))

  /** Rewrite `textCol` IN PLACE against a given hot-span list (the
    * incremental face of [[hotSpanScrub]], driven by the persisted
    * span-count index's list — [[Dedup.readHotSpanList]]): every other
    * column passes through untouched, so an ingest stage can scrub a batch
    * without knowing its schema.
    *
    * Same two-path cost model as [[hotSpanScrub]]: under `maxBroadcastHot`
    * the list collects into the plan and the rewrite is a zero-shuffle
    * per-row filter; above it, explode → broadcast-anti → ordered
    * re-assembly keyed by `idCol` (one narrow (id, pos, span) shuffle plus
    * the id-join back).
    *
    * An EMPTY list still RE-RENDERS the text single-spaced (zero spans
    * removed): rendering must not depend on WHEN the list arms — an
    * early-return of the verbatim input would make a multi-spaced document
    * ingested before the first [[Dedup.refreshHotSpanList]] fingerprint
    * differently from the same document ingested after it, for a reason
    * unrelated to hot spans (review finding).
    *
    * Precondition (degrade path only): `idCol` must be unique per row —
    * the over-ceiling re-assembly groups spans by id, so duplicate ids
    * would interleave two documents' spans into one rewritten text. The
    * ingest loop satisfies this by contract (ids are unique upstream of
    * content dedup); the plan-literal path is per-row and has no such
    * requirement.
    */
  def scrubAgainstHotList(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      hot: DataFrame,
      maxBroadcastHot: Long = 1L << 20): DataFrame = {
    // one bounded action sizes AND materializes the list (the
    // count-then-collect double-read removed — review finding, as
    // hotSpanScrub)
    val hotRows = hot.take(boundedHotCap(maxBroadcastHot) + 1)
    if (hotRows.length <= boundedHotCap(maxBroadcastHot)) {
      df.withColumn(textCol,
        scrubSpansColumn(col(textCol), k, hotRows.map(_.getLong(0))))
    } else {
      val spans = df.select(col(idCol), spanChunks(col(textCol), k).as("__spans"))
      df.drop(textCol)
        .join(reassembleKept(spans, idCol, hot), Seq(idCol), "left")
        // fully-hot and zero-span docs have no kept rows: their text is ''
        .withColumn(textCol, coalesce(col("__clean"), lit("")))
        .drop("__n_kept", "__clean")
    }
  }

  /** Intra-document repeated-span removal — the within-document face of
    * exact dedup (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better": repeated substrings inside one document are
    * memorization fuel): later occurrences of a k-token span already seen
    * in the SAME document are dropped; first occurrences keep their order.
    *
    * Pure per-row composition — `array_distinct` preserves first-occurrence
    * order and runs a hash-set pass (linear, native), so the whole op lives
    * in the scan projection: no shuffle, no explode, nothing corpus-global.
    * The O(tokens²) interpreted-lambda trap ([[topTokenRatios]]'s history)
    * does not apply.
    *
    * Output: (idCol, n_spans, n_dropped, clean_text).
    */
  def dropRepeatedSpans(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 2): DataFrame = {
    val spans = spanChunks(col(textCol), k)
    val kept = array_distinct(spans)
    docs.select(
      col(idCol),
      size(spans).cast("long").as("n_spans"),
      (size(spans) - size(kept)).cast("long").as("n_dropped"),
      concat_ws(" ", kept).as("clean_text"))
  }

  /** PII patterns for the redaction pass ([[redactPii]]). Each is ONE
    * shared constant interpolated into both the Spark expression and the
    * generated DuckDB oracle SQL (the q68 contract: Java regex and RE2
    * agree on this POSIX-compatible subset — character classes, bounded
    * repetition, no lookaround), so the two engines cannot drift.
    *
    * These are deliberately the high-precision structural shapes a
    * pre-training scrub uses as its first pass (an address with a TLD, a
    * NANP-dashed phone, a dotted quad) — recall-oriented PII detection
    * (names, free-form addresses) is a model problem, not a regex one.
    */
  val PiiEmailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhonePattern: String = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Dotted quad with RANGE-VALID octets (0–255), via a longest-first
    * alternation — POSIX-compatible (no lookaround), and leftmost-first
    * alternation order is shared by Java regex and RE2, so both engines
    * segment identically (the q68 contract, exercised by q76's injected
    * adversarial rows). Bounding the octets kills the out-of-range false
    * positives the unbounded `[0-9]{1,3}` quad matched (999.999.999.999
    * now matches NOTHING — no 4-octet substring is range-valid).
    *
    * Documented residual scope (structural patterns cannot see context
    * without lookaround, which RE2 lacks): a range-valid quad EMBEDDED in
    * a longer token still matches — "v1.2.3.4" redacts to "v<IP>", and
    * "256.1.1.1" contains the valid "56.1.1.1". These are tested
    * decisions (`TextSpec`), not accidents; a scrub wanting token-exact
    * quads needs a tokenizer, not a regex.
    */
  val PiiIpv4Pattern: String = {
    val oct = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
    s"$oct\\.$oct\\.$oct\\.$oct"
  }

  /** Replace structural PII with typed placeholder tokens, keeping the
    * document (unlike [[scrub]], which deletes matches): redacted corpora
    * train, deleted spans change token statistics. Order matters only
    * for overlap, and the three patterns are disjoint by construction
    * (emails carry `@`, phones are dash-separated, IPs dot-separated
    * digits), but email runs first anyway so a digit-heavy local-part can
    * never be seen by the narrower patterns. Pure codegen
    * `regexp_replace` chain — per-row, no shuffle, distributes trivially.
    */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, PiiEmailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, PiiIpv4Pattern, "<IP>")
    regexp_replace(noIp, PiiPhonePattern, "<PHONE>")
  }

  /** Strip URLs and email addresses (the C4-style pre-training scrub pass).
    * Patterns stay in the POSIX-compatible subset so the same regexes run
    * in the DuckDB oracle.
    */
  def scrub(text: Column): Column = {
    val noUrls = regexp_replace(text, "https?://[^ ]+", "")
    val noEmail = regexp_replace(noUrls, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "")
    trim(regexp_replace(noEmail, "  +", " "))
  }

  /** Highest single-token share of each document — the repetition signal
    * used to drop boilerplate/spam (a doc where one token is 30% of all
    * tokens is usually garbage).
    *
    * Linear explode → count-per-(doc, token) → max/sum per doc: two narrow
    * shuffles of (id, token-count) rows. The earlier per-row Column form
    * (`transform(array_distinct(t), d => size(filter(t, x => x === d)))`)
    * was O(tokens²) per document through interpreted lambdas — a 5k-token
    * document paid 25M comparisons.
    *
    * Output: (idCol, top_cnt, tok_cnt, ratio = top_cnt / tok_cnt).
    */
  def topTokenRatios(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .groupBy(idCol, "__tok")
      .agg(count(lit(1)).as("__c"))
      .groupBy(idCol)
      .agg(max(col("__c")).as("top_cnt"), sum(col("__c")).as("tok_cnt"))
      .withColumn("ratio", col("top_cnt").cast("double") / col("tok_cnt"))
}
