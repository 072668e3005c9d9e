package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Bpe, ExactAgg, Text}
import graft.ops.Packing
import graft.sources.Tables

/** Tokenizer registry queries: the pre-tokenizer budget, BPE and unigram
  * encoding (token counts, ids, byte fallback) and sequence packing.
  */
object TokenizerQueries {

  /** Merge-table size for the q97 BPE fixture — a stamp ingredient (a
    * different merge budget is a different tokenizer).
    */
  private[graft] val BpeMergeCount = 200

  /** Stamped build of the q97 BPE fixture: learn `BpeMergeCount` merges
    * from the corpus (one explode+agg pass + a driver-side loop over the
    * capped dictionary — [[Bpe.learnMerges]]), persist them as the
    * versioned merges table, and write the differential EXPECTED table by
    * re-encoding every document with the independent naive implementation
    * ([[Bpe.naiveTokenCounts]]) — the q90 exhaustive-baseline discipline:
    * the oracle joins the naive counts, the query runs the production
    * expression, and any merge-order divergence hash-fails. Content-stamped
    * like every index fixture, so bench passes time the encode path only.
    */
  private[graft] def ensureBpeFixture(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "bpe")
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents",
        s"merges=$BpeMergeCount", s"bpe=${Bpe.BpeVersion}")) {
      val dict = Bpe.learnDictionary(docs, "text")
      val merges = Bpe.trainFromDictionary(dict, numMerges = BpeMergeCount)
      val vocab = Bpe.buildVocab(dict, merges)
      Bpe.writeMerges(s, merges, s"$fixture/merges")
      Bpe.writeVocab(s, vocab, s"$fixture/vocab")
      Bpe.naiveTokenCounts(docs, "text", "doc_id", merges)
        .write.mode("overwrite").parquet(s"$fixture/expected")
      Bpe.naiveIdsTable(docs, "text", "doc_id", merges, vocab)
        .write.mode("overwrite").parquet(s"$fixture/expected_ids")
      // the q111 byte-fallback tier: the same trained tokenizer with the
      // 256 byte tokens appended, and the textbook encoder's expected-ids
      // table over the EXOTIC-injected corpus (fallback semantics only
      // show on symbols outside the training alphabet)
      val vocabBytes = Bpe.buildVocabWithBytes(dict, merges)
      Bpe.writeVocab(s, vocabBytes, s"$fixture/vocab_bytes")
      Bpe.naiveIdsTable(exoticInjected(docs), "text", "doc_id", merges,
          vocabBytes, byteFallback = true)
        .write.mode("overwrite").parquet(s"$fixture/expected_ids_bytes")
    }
  }

  /** Exotic-script suffixes for the q111 byte-fallback gate, appended to
    * the (ASCII-clean) corpus text deterministically by doc_id: Greek and
    * CJK letters (2- and 3-byte UTF-8), an astral-plane emoji (surrogate
    * pair, 4-byte UTF-8) and an in-alphabet control. ONE definition feeds
    * the fixture's expected table and the gate query.
    */
  private[graft] def exoticInjected(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    docs.withColumn("text", concat(col("text"),
      when(d % 4 === 0, lit(" δοκιμή"))
        .when(d % 4 === 1, lit(" 試験"))
        .when(d % 4 === 2, lit(" 🚀"))
        .otherwise(lit(" plain"))))
  }

  /** Stamped build of the q121 unigram-tokenizer fixture: train the
    * EM/Viterbi model ([[graft.functions.Unigram]]) on the CLEAN corpus
    * dictionary, persist it, and persist the naive-encoder expected table
    * over the exotic-injected corpus (the q111 pattern — unknown-cp
    * semantics only show on symbols outside the training alphabet). The
    * oracle joins the expected table (q97 differential discipline).
    */
  private[graft] def ensureUnigramFixture(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "unigram")
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents",
        s"uni=${graft.functions.Unigram.Version}", "b")) {
      val dict = graft.functions.Unigram.learnDictionary(docs, "text")
      val model = graft.functions.Unigram.trainFromDictionary(dict)
      graft.functions.Unigram.writeModel(s, model, s"$fixture/model")
      graft.functions.Unigram.naiveTable(exoticInjected(docs), "text", "doc_id", model)
        .write.mode("overwrite").parquet(s"$fixture/expected")
      graft.functions.Unigram.naiveIdTable(exoticInjected(docs), "text", "doc_id", model)
        .write.mode("overwrite").parquet(s"$fixture/expected_ids")
      // the SAME trained pieces under the oov=bytes story (q128): the
      // byte-tier serialization round-trips through its own persisted
      // artifact, and the expected table comes from the independent
      // encoder under the same story
      val byteModel = model.copy(byteFallback = true)
      graft.functions.Unigram.writeModel(s, byteModel, s"$fixture/model_bytes")
      graft.functions.Unigram
        .naiveIdTable(exoticInjected(docs), "text", "doc_id", byteModel)
        .write.mode("overwrite").parquet(s"$fixture/expected_ids_bytes")
    }
  }

  // The stamped fixtures this family's queries read.
  private val BpeFixture = Prebuild("bpe", ensureBpeFixture)
  private val UnigramFixture = Prebuild("unigram", ensureUnigramFixture)

  /** This family's registry records: builder, oracle and fixtures. */
  def records: Seq[Query] = Seq(
    // ---- LLM-pipeline: token budgeting — whitespace words vs BPE-ish
    // pre-tokenizer pieces (Text.BpeishPattern, the GPT-2-style pre-split)
    // per document, with the pieces-per-word ratio in exact basis points.
    // The pattern is ONE shared constant interpolated into the oracle SQL,
    // and both engines segment with leftmost-first alternation, so the
    // counts are value-exact cross-engine ----
    // q68: the SAME BpeishPattern constant, SQL-quoted; DuckDB's RE2 and
    // Java regex both use leftmost-first ordered alternation
    Query("q68_token_budget", { (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("n_words"),
          Text.bpeishCount(col("text")).cast("long").as("n_pieces"))
        .withColumn("pieces_per_word_e4",
          ExactAgg.divHalfUp(col("n_pieces") * 10000, col("n_words")))
        .orderBy("doc_id")
    }, oracle = _ => s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |  CAST(len(regexp_extract_all(text, '${Text.BpeishPattern.replace("'", "''")}')) AS BIGINT) AS n_pieces,
         |  CAST(${ExactAgg.Sql.divHalfUp(
              s"CAST(len(regexp_extract_all(text, '${Text.BpeishPattern.replace("'", "''")}')) AS BIGINT) * 10000",
              "len(string_split(text, ' '))")} AS BIGINT) AS pieces_per_word_e4
         |FROM documents ORDER BY doc_id""".stripMargin),
    // ---- LLM-pipeline: sequence packing — concatenate documents into a
    // token stream and slice it into 2048-token context windows (GPT-style
    // packing; docs straddle boundaries, nothing padded or dropped). The
    // stream is SHARDED (doc_id % 8) so each shard packs independently —
    // a single global running sum would serialize the corpus through one
    // window partition; the only exchange moves narrow (doc_id, n_tokens)
    // rows. Budget is a power of two, so the floor-division window ids are
    // exact in both engines' arithmetic ----
    // q75: same sharded running sum; the 2048 budget is a power of two so
    // floor(cum / 2048.0) is exact binary64 in both engines
    Query("q75_sequence_packing", { (s, dir) =>
      Packing.packSequences(Tables.documents(s, dir), "text", "doc_id",
        budget = 2048, shards = 8)
        .orderBy("doc_id")
    }, oracle = _ => """SELECT doc_id, shard, n_tokens,
        |  CAST(floor(cumb / 2048.0) AS BIGINT) AS pack_first,
        |  CAST(floor((cumb + n_tokens - 1) / 2048.0) AS BIGINT) AS pack_last,
        |  CAST(floor((cumb + n_tokens - 1) / 2048.0) AS BIGINT)
        |    - CAST(floor(cumb / 2048.0) AS BIGINT) + 1 AS n_windows
        |FROM (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    COALESCE(CAST(len(string_split(text, ' ')) AS BIGINT), 0) AS n_tokens,
        |    COALESCE(SUM(COALESCE(CAST(len(string_split(text, ' ')) AS BIGINT), 0)) OVER (
        |      PARTITION BY doc_id % 8 ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin),
    // ---- LLM-pipeline: REAL BPE tokenization (round-11 verdict #1) —
    // merges LEARNED from this corpus slice (persisted versioned fixture),
    // applied per document by the production codegen expression in one
    // shuffle-free map stage. Three-way gate: n_pieces and detok are
    // recomputed by DuckDB ITSELF from the shared pre-tokenizer regex (the
    // q68 cross-engine contract — detok pins that tokens partition the
    // piece stream byte-exactly), while n_tokens joins the EXPECTED table
    // written by the independent textbook encoder (the q90 differential
    // discipline — any merge-order divergence hash-fails) ----
    // q97: n_pieces and detok are DuckDB's OWN regex recomputation (the
    // q68 shared-pattern contract; detok = concatenated pieces, which a
    // correct encoder must reconstruct exactly); n_tokens joins the
    // expected table the independent naive encoder wrote (differential)
    Query("q97_bpe_tokenize", { (s, dir) =>
      val fixture = ensureBpeFixture(s, dir)
      val merges = Bpe.readMerges(s, s"$fixture/merges")
      Tables.documentsHeavy(s, dir)
        .select(col("doc_id"), Bpe.encodeStats(col("text"), merges).as("b"))
        .select(col("doc_id"),
          col("b.n_pieces").as("n_pieces"),
          col("b.n_tokens").as("n_tokens"),
          col("b.detok").as("detok"))
        .orderBy("doc_id")
    }, oracle = dir => s"""SELECT d.doc_id,
         |  CAST(len(regexp_extract_all(d.text, '${Text.BpeishPattern.replace("'", "''")}')) AS BIGINT) AS n_pieces,
         |  e.n_tokens AS n_tokens,
         |  array_to_string(regexp_extract_all(d.text, '${Text.BpeishPattern.replace("'", "''")}'), '') AS detok
         |FROM documents d
         |JOIN read_parquet('${Fixture.path(dir, "bpe")}/expected/*.parquet') e
         |  ON d.doc_id = e.doc_id
         |ORDER BY d.doc_id""".stripMargin,
      fixtures = Seq(BpeFixture)),
    // ---- LLM-pipeline: sequence packing under the REAL tokenizer — q75's
    // sharded running-sum pack budgeted by the trained BPE token counts
    // (Packing.packByCount × Bpe) instead of whitespace words: the
    // end-to-end shape a shard-writer actually runs (learn merges →
    // tokenize → slice the token stream into context windows). The oracle
    // budgets with the naive-encoder expected table — q97 pins production
    // == naive per doc, so the counts coincide by the already-gated
    // equality ----
    // q102: the q75 running-sum shape, budgeted with the BPE expected
    // table's counts (production == naive is q97's already-gated equality)
    Query("q102_bpe_packing", { (s, dir) =>
      val fixture = ensureBpeFixture(s, dir)
      val merges = Bpe.readMerges(s, s"$fixture/merges")
      Packing.packByTokenizer(
        Tables.documents(s, dir), "text", "doc_id",
        graft.functions.Tokenizer.bpe(merges), budget = 1024, shards = 8)
        .orderBy("doc_id")
    }, oracle = dir => s"""SELECT doc_id, shard, n_tokens,
         |  CAST(floor(cumb / 1024.0) AS BIGINT) AS pack_first,
         |  CAST(floor((cumb + n_tokens - 1) / 1024.0) AS BIGINT) AS pack_last,
         |  CAST(floor((cumb + n_tokens - 1) / 1024.0) AS BIGINT)
         |    - CAST(floor(cumb / 1024.0) AS BIGINT) + 1 AS n_windows
         |FROM (
         |  SELECT d.doc_id, d.doc_id % 8 AS shard, e.n_tokens,
         |    COALESCE(SUM(e.n_tokens) OVER (
         |      PARTITION BY d.doc_id % 8 ORDER BY d.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM documents d
         |  JOIN read_parquet('${Fixture.path(dir, "bpe")}/expected/*.parquet') e
         |    ON d.doc_id = e.doc_id) t
         |ORDER BY doc_id""".stripMargin,
      fixtures = Seq(BpeFixture)),
    // ---- LLM-pipeline: token-ID encoding under the persisted vocabulary
    // — the tokenizer's serving surface (what actually feeds a trainer:
    // int ids, not strings). Vocab = base code points + merge outputs in
    // rank order, minted once at fixture build; OOV (symbols outside the
    // capped training dictionary) encode as −1 and are counted. The
    // oracle joins the expected-ids table the independent textbook
    // encoder wrote through the SAME persisted vocab (q97's differential
    // discipline, extended to ids) ----
    // q105: the expected-ids table from the independent encoder through
    // the same persisted vocab; ids compare as one space-joined string
    Query("q105_bpe_token_ids", { (s, dir) =>
      val fixture = ensureBpeFixture(s, dir)
      val merges = Bpe.readMerges(s, s"$fixture/merges")
      val vocab = Bpe.readVocab(s, s"$fixture/vocab")
      Tables.documents(s, dir)
        .select(col("doc_id"), Bpe.encodeIds(col("text"), merges, vocab).as("e"))
        .select(col("doc_id"),
          col("e.n_tokens").as("n_tokens"),
          col("e.n_oov").as("n_oov"),
          col("e.ids").as("ids"))
        .orderBy("doc_id")
    }, oracle = dir => s"""SELECT d.doc_id, e.n_tokens, e.n_oov, e.ids
         |FROM documents d
         |JOIN read_parquet('${Fixture.path(dir, "bpe")}/expected_ids/*.parquet') e
         |  ON d.doc_id = e.doc_id
         |ORDER BY d.doc_id""".stripMargin,
      fixtures = Seq(BpeFixture)),
    // ---- LLM-pipeline: BYTE-FALLBACK id encoding (round-12 verdict #3)
    // — q105's vocabulary is code-point-level, so symbols outside the
    // capped training alphabet encode as −1 OOVs; GPT-2-class tokenizers
    // are byte-level precisely so OOV is impossible. Here the 256 byte
    // tokens are a fallback TIER appended after the learned vocab (the
    // SentencePiece byte_fallback design): an unseen symbol emits its
    // UTF-8 bytes' ids. Exotic-script suffixes (Greek, CJK, astral
    // emoji) are injected so the fallback actually fires; the oracle
    // joins the expected table the independent textbook encoder wrote
    // through the SAME byte vocabulary (q105's differential discipline),
    // and n_oov — identically zero — is part of the compared values ----
    // q111: the byte-fallback expected table from the independent
    // encoder over the exotic-injected corpus; the compared n_oov column
    // is identically zero — byte fallback makes OOV impossible
    Query("q111_bpe_byte_fallback", { (s, dir) =>
      val fixture = ensureBpeFixture(s, dir)
      val merges = Bpe.readMerges(s, s"$fixture/merges")
      val vocab = Bpe.readVocab(s, s"$fixture/vocab_bytes")
      exoticInjected(Tables.documentsHeavy(s, dir))
        .select(col("doc_id"),
          Bpe.encodeIds(col("text"), merges, vocab, byteFallback = true).as("e"))
        .select(col("doc_id"),
          col("e.n_tokens").as("n_tokens"),
          col("e.n_oov").as("n_oov"),
          col("e.ids").as("ids"))
        .orderBy("doc_id")
    }, oracle = dir => s"""SELECT d.doc_id, e.n_tokens, e.n_oov, e.ids
         |FROM documents d
         |JOIN read_parquet('${Fixture.path(dir, "bpe")}/expected_ids_bytes/*.parquet') e
         |  ON d.doc_id = e.doc_id
         |ORDER BY d.doc_id""".stripMargin,
      fixtures = Seq(BpeFixture)),
    // ---- unigram-LM (SentencePiece-style) tokenization: EM-trained piece
    // probabilities, Viterbi encode in one codegen map pass with the
    // quantized (piece, lp_e4) table as a plan constant. Gated over the
    // exotic-injected corpus so the unknown-cp path (Greek/CJK/astral
    // suffixes outside the training alphabet) is exercised; differential
    // vs the independently-structured naive Viterbi's expected table ----
    // q121: the q97 differential discipline — the expected table is the
    // independently-structured naive Viterbi persisted at fixture build;
    // the base-table join pins coverage (every document, exactly once)
    Query("q121_unigram_tokenize", { (s, dir) =>
      val fixture = ensureUnigramFixture(s, dir)
      val model = graft.functions.Unigram.readModel(s, s"$fixture/model")
      exoticInjected(Tables.documents(s, dir))
        .select(col("doc_id"),
          graft.functions.Unigram.encodeStats(col("text"), model).as("u"))
        .select(col("doc_id"), col("u.n_tokens").as("n_tokens"),
          col("u.n_unk").as("n_unk"), col("u.nll_e4").as("nll_e4"),
          col("u.tokens").as("tokens"))
        .orderBy("doc_id")
    }, oracle = dir => s"""SELECT d.doc_id, e.n_tokens, e.n_unk, e.nll_e4, e.tokens
         |FROM documents d
         |JOIN read_parquet('${Fixture.path(dir, "unigram")}/expected/*.parquet') e
         |  ON d.doc_id = e.doc_id
         |ORDER BY d.doc_id""".stripMargin,
      fixtures = Seq(UnigramFixture)),
    // ---- q102's packing under the UNIGRAM tokenizer — the family-
    // agnostic serialization claim made executable (one Tokenizer
    // interface, one packer, the model family as the only variable).
    // Runs over the exotic-injected corpus so the counts exercise the
    // unknown-codepoint path, and the oracle joins the SAME persisted
    // expected table q121 differentials against ----
    // q125: q102's window arithmetic verbatim, n_tokens joined from the
    // UNIGRAM expected table (the q121 differential artifact) — the
    // family-agnostic packing claim gates on the oracle side too
    Query("q125_unigram_packing", { (s, dir) =>
      val fixture = ensureUnigramFixture(s, dir)
      val model = graft.functions.Unigram.readModel(s, s"$fixture/model")
      Packing.packByTokenizer(
        exoticInjected(Tables.documents(s, dir)), "text", "doc_id",
        graft.functions.Tokenizer.unigram(model), budget = 1024, shards = 8)
        .orderBy("doc_id")
    }, oracle = dir => s"""SELECT doc_id, shard, n_tokens,
         |  CAST(floor(cumb / 1024.0) AS BIGINT) AS pack_first,
         |  CAST(floor((cumb + n_tokens - 1) / 1024.0) AS BIGINT) AS pack_last,
         |  CAST(floor((cumb + n_tokens - 1) / 1024.0) AS BIGINT)
         |    - CAST(floor(cumb / 1024.0) AS BIGINT) + 1 AS n_windows
         |FROM (
         |  SELECT d.doc_id, d.doc_id % 8 AS shard, e.n_tokens,
         |    COALESCE(SUM(e.n_tokens) OVER (
         |      PARTITION BY d.doc_id % 8 ORDER BY d.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM documents d
         |  JOIN read_parquet('${Fixture.path(dir, "unigram")}/expected/*.parquet') e
         |    ON d.doc_id = e.doc_id) t
         |ORDER BY doc_id""".stripMargin,
      fixtures = Seq(UnigramFixture)),
    // ---- q105's token-ID serving surface under the UNIGRAM family,
    // through the unified Tokenizer trait (round-15 verdict #4): piece id
    // = index in the model's canonical lexicographic piece order (the id
    // vocabulary IS the model — no second artifact), OOV = the reserved
    // |pieces| id, recorded as oov=unkid in the model layout. Runs over
    // the exotic-injected corpus so unknown code points exercise the OOV
    // path; the oracle joins the expected-ids table the independently-
    // structured naive encoder (fold/minBy Viterbi + Map lookup vs the
    // production array loop + binary search) persisted at fixture build ----
    // q126: the q105 differential extended to the unigram family — the
    // expected-ids table is the independently-structured naive encoder
    // (fold/minBy Viterbi + Map id lookup) through the model's canonical
    // piece order, persisted at fixture build; base-table join pins
    // coverage
    Query("q126_unigram_token_ids", { (s, dir) =>
      val fixture = ensureUnigramFixture(s, dir)
      val model = graft.functions.Unigram.readModel(s, s"$fixture/model")
      exoticInjected(Tables.documents(s, dir))
        .select(col("doc_id"),
          graft.functions.Tokenizer.unigram(model).encodeIds(col("text")).as("e"))
        .select(col("doc_id"),
          col("e.n_tokens").as("n_tokens"),
          col("e.n_oov").as("n_oov"),
          col("e.ids").as("ids"))
        .orderBy("doc_id")
    }, oracle = dir => s"""SELECT d.doc_id, e.n_tokens, e.n_oov, e.ids
         |FROM documents d
         |JOIN read_parquet('${Fixture.path(dir, "unigram")}/expected_ids/*.parquet') e
         |  ON d.doc_id = e.doc_id
         |ORDER BY d.doc_id""".stripMargin,
      fixtures = Seq(UnigramFixture)),
    // ---- q111's OOV-impossible serialization claim extended to the
    // UNIGRAM family (r16 verdict gap: byte-fallback was one-family
    // only): the q126 model's pieces under the oov=bytes story — an
    // unknown code point decomposes into its UTF-8 bytes through the
    // reserved tier |pieces|..|pieces|+255 (SentencePiece byte_fallback),
    // so every exotic-injected doc serializes without information loss;
    // n_oov reports the byte-tier fallback mass. The story round-trips
    // through its own persisted model artifact (oov=bytes in the layout
    // — a consumer can never decode shards under the wrong convention),
    // and the oracle joins the independent naive encoder's expected
    // table under the same story ----
    // q128: the byte-fallback story's expected table from the same
    // independent naive encoder (q111's discipline under the unigram
    // family); n_oov here is the byte-tier fallback mass, nonzero
    // exactly on the exotic-injected docs
    Query("q128_unigram_byte_ids", { (s, dir) =>
      val fixture = ensureUnigramFixture(s, dir)
      val model = graft.functions.Unigram.readModel(s, s"$fixture/model_bytes")
      exoticInjected(Tables.documents(s, dir))
        .select(col("doc_id"),
          graft.functions.Tokenizer.unigram(model).encodeIds(col("text")).as("e"))
        .select(col("doc_id"),
          col("e.n_tokens").as("n_tokens"),
          col("e.n_oov").as("n_oov"),
          col("e.ids").as("ids"))
        .orderBy("doc_id")
    }, oracle = dir => s"""SELECT d.doc_id, e.n_tokens, e.n_oov, e.ids
         |FROM documents d
         |JOIN read_parquet('${Fixture.path(dir, "unigram")}/expected_ids_bytes/*.parquet') e
         |  ON d.doc_id = e.doc_id
         |ORDER BY d.doc_id""".stripMargin,
      fixtures = Seq(UnigramFixture))
  )
}
