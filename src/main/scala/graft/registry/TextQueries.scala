package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ExactAgg, HeavyHitters, LangModel, QualityClassifier, Text}
import graft.functions.ExactAgg.avgExactLong
import graft.functions.ExactAgg.Sql.{avgLong => sqlAvgLong}
import graft.ops.{Sampling, UrlOps}
import graft.sources.Tables

/** Text and quality registry queries: token statistics, scrubbing and
  * PII redaction, sampling and mixing, heavy hitters, the quality and
  * lang-id classifiers, the n-gram LMs, repetition signals, the KMV
  * sketch and DSIR resampling.
  */
object TextQueries {

  /** Stamped install of the q98 quality-classifier model fixture — the
    * synthesized demo weight table ([[QualityClassifier.synthesizeWeights]]).
    * Corpus-independent (a model is not a function of the data it scores),
    * so the stamp carries only the model identity: dimension + scheme
    * version.
    */
  private[graft] def ensureQualityModel(s: SparkSession, dir: String): String = {
    val fixture = Fixture.path(dir, "quality_model")
    val dim = QualityClassifier.DefaultDim
    Fixture.ensure(s, fixture, s"dim=$dim|bias=0|qc=${QualityClassifier.ModelVersion}") {
      QualityClassifier.writeModel(s,
        QualityClassifier.Model(QualityClassifier.synthesizeWeights(dim), bias = 0L),
        s"$fixture/model")
    }
  }

  /** Marker suffixes of the q109 labeled training corpus: every even doc
    * is a "good" example and every odd doc a "bad" one, with a class
    * marker appended so the centroid fit has real signal to separate on
    * (the q76 discipline — both branches get rows). Interpolated into the
    * generated oracle SQL, so the two sides label identically.
    */
  private[graft] val QcGoodMark = " verified concise informative prose"
  private[graft] val QcBadMark = " click here buy now free prize offer"

  /** The labeled corpus both the q109 trainer and its scoring pass read:
    * label = even doc_id, text = corpus text + the class marker.
    */
  private[graft] def qcLabeled(docs: DataFrame): DataFrame = docs
    .withColumn("__lbl", col("doc_id") % 2 === 0)
    .withColumn("__ltext", concat(col("text"),
      when(col("__lbl"), lit(QcGoodMark)).otherwise(lit(QcBadMark))))

  /** Stamped TRAIN of the q109 classifier fixture: the deterministic
    * closed-form centroid fit ([[QualityClassifier.trainCentroid]]) over
    * the labeled corpus, persisted as the same (bucket, weight) artifact
    * q98 serves — train → install → score is the full production loop.
    * A pure function of (corpus slice, dim, trainer scheme).
    */
  private[graft] def ensureTrainedQualityModel(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "quality_model_trained")
    // the class markers are trainer inputs: editing either would leave a
    // stale fixture serving old weights while the oracle re-derives with
    // the new markers (round-13 advice) — fold them into the identity
    val markers = Integer.toHexString((QcGoodMark + "\u0000" + QcBadMark).hashCode)
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents",
        s"dim=${QualityClassifier.DefaultDim}", s"scale=${QualityClassifier.TrainScale}",
        s"qc=${QualityClassifier.ModelVersion}", s"marks=$markers", "centroid-v1")) {
      val model = QualityClassifier.trainCentroid(qcLabeled(docs), "__ltext", "__lbl")
      QualityClassifier.writeModel(s, model, s"$fixture/model")
    }
  }

  /** Class markers of the q116 multi-class lang-id training corpus: each
    * doc_id % 3 class gets a distinct function-word suffix (the q109
    * marker discipline generalized to K classes) so the per-class
    * centroids have real signal. Interpolated into the generated oracle
    * SQL — one definition on both sides.
    */
  private[graft] val LangIdMarks: Seq[(String, String)] = Seq(
    "de" -> " der schnelle braune fuchs springt hoch",
    "en" -> " the quick brown fox jumps high",
    "fr" -> " le renard brun rapide saute haut")

  /** The labeled corpus the q116 trainer and its scoring pass both read:
    * class = doc_id % 3 mapped onto the [[LangIdMarks]] order, text =
    * corpus text + the class marker. */
  private[graft] def langIdLabeled(docs: DataFrame): DataFrame = {
    val m = col("doc_id") % 3
    docs
      .withColumn("__cls",
        when(m === 0, LangIdMarks(0)._1)
          .when(m === 1, LangIdMarks(1)._1)
          .otherwise(LangIdMarks(2)._1))
      .withColumn("__ltext", concat(col("text"),
        when(m === 0, lit(LangIdMarks(0)._2))
          .when(m === 1, lit(LangIdMarks(1)._2))
          .otherwise(lit(LangIdMarks(2)._2))))
  }

  /** Stamped TRAIN of the q116 multi-class lang-id fixture: the
    * closed-form per-class centroid fit
    * ([[QualityClassifier.trainCentroidMulti]]) over the labeled corpus,
    * persisted as one (class, bucket, weight) table and served back
    * through the argmax path — the q109 train→install→score loop at K
    * classes. Marker strings are stamp ingredients (round-13 advice).
    */
  private[graft] def ensureLangIdModel(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "langid_model")
    val markers = Integer.toHexString(
      LangIdMarks.map { case (c, m) => s"$c=$m" }.mkString("|").hashCode)
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents",
        s"dim=${QualityClassifier.DefaultDim}", s"scale=${QualityClassifier.TrainScale}",
        s"qc=${QualityClassifier.ModelVersion}", s"marks=$markers", "centroid-multi-v1")) {
      val models = QualityClassifier.trainCentroidMulti(
        langIdLabeled(docs), "__ltext", "__cls")
      QualityClassifier.writeMultiModel(s, models, s"$fixture/model")
    }
  }

  /** Stamped train of the q101 bigram-LM fixture ([[LangModel.train]]) —
    * the model is a pure function of the corpus slice, so the stamp is
    * the corpus content hash + the scheme version.
    */
  private[graft] def ensureLmFixture(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "bigram_lm")
    Fixture.ensure(s, fixture,
        Fixture.sourceStamp(s, dir, "documents", s"lm=${LangModel.LmVersion}")) {
      LangModel.train(docs, "text", s"$fixture/model")
    }
  }

  /** Stamped build of the q108 INCREMENTAL LM fixture: generation 0
    * installed from the even docs, generation 1 appended from the
    * doc_id % 4 == 1 quarter (so a quarter of the corpus stays unseen and
    * scoring exercises the miss ladders), model refreshed from the
    * accumulated facts. 6th generational-index family, same protocol.
    */
  private[graft] def ensureLmIncFixture(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "bigram_lm_inc")
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents",
        s"lm=${LangModel.LmVersion}", "incr-v1")) {
      LangModel.installCountIndex(
        docs.filter(col("doc_id") % 2 === 0), "text", s"$fixture/inc")
      LangModel.appendCounts(
        docs.filter(col("doc_id") % 4 === 1), s"$fixture/inc", generation = 1L)
      LangModel.refreshModel(s, s"$fixture/inc")
    }
  }

  /** Stamped train of the q110 TRIGRAM fixture — the same artifact family
    * as q101 at order 3 (CCNet's production filter is order 5; order 3 is
    * the smallest n that exercises the joined-context path). Pure function
    * of (corpus slice, order, scheme version).
    */
  private[graft] def ensureLm3Fixture(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "trigram_lm")
    Fixture.ensure(s, fixture,
        Fixture.sourceStamp(s, dir, "documents", s"lm=${LangModel.LmVersion}", "n=3")) {
      LangModel.train(docs, "text", s"$fixture/model", order = 3)
    }
  }

  /** Stamped build of the q131 DSIR fixture: train the importance-weight
    * model (target = the %10==3 corpus slice, raw = the rest —
    * "make the raw corpus look like the target domain") and persist it
    * through the quality-classifier artifact format plus the quantized
    * Gumbel inverse-CDF table, so the oracle joins the SAME persisted
    * integers the selection plan carries as constants ([[graft.functions
    * .LangModel]]'s quantize-once discipline).
    */
  private[graft] def ensureDsirFixture(s: SparkSession, dir: String): String = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val fixture = Fixture.path(dir, "dsir")
    Fixture.ensure(s, fixture, Fixture.sourceStamp(s, dir, "documents", "dsir=1")) {
      val target = docs.filter(col("doc_id") % 10 === 3)
      val raw = docs.filter(col("doc_id") % 10 =!= 3)
      val model = graft.functions.Dsir.trainImportance(target, raw, "text")
      graft.functions.QualityClassifier.writeModel(s, model, s"$fixture/model")
      graft.functions.Dsir.gumbelTableE4().zipWithIndex
        .map { case (g, i) => (i.toLong, g) }.toSeq.toDF("i", "g_e4")
        .coalesce(1).write.mode("overwrite").parquet(s"$fixture/gumbel")
    }
  }

  /** q131 selection size and noise salt — shared between the query and
    * its generated oracle.
    */
  private val DsirN = 200
  private val DsirSalt = "dsir-v1"

  /** q130 sketch size: small enough that every lang group saturates at
    * sf0.001 (the estimator path is the gated one), large enough for
    * ~18% theoretical standard error — a monitor, not a count.
    */
  private val KmvK = 32

  /** Generated DuckDB re-derivation of the q130 KMV cardinality report:
    * the same md5-60bit hash idiom the minhash oracles use, the k-minima
    * via a per-group rank, and the exact two-step int64 estimator
    * ([[graft.functions.Kmv]]'s contract — k interpolates [[KmvK]], one
    * source of truth). A FULL value oracle on a sketch: every column
    * including the estimate and its relative error is re-computed.
    */
  private def kmvCardinalitySql: String = {
    val k = KmvK
    val est = s"CASE WHEN m.n_min < $k THEN m.n_min " +
      s"ELSE ${k - 1} * ${ExactAgg.Sql.floorDiv("1152921504606846976", "GREATEST(m.kth, 1)")} END"
    s"""WITH h AS (
       |  SELECT lang, text,
       |    CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT) AS h
       |  FROM documents),
       |d AS (SELECT lang, h FROM h GROUP BY 1, 2),
       |r AS (SELECT lang, h,
       |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM d),
       |mins AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_min, MAX(h) AS kth
       |  FROM r WHERE rn <= $k GROUP BY 1),
       |ex AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(COUNT(DISTINCT text) AS BIGINT) AS distinct_exact
       |  FROM documents GROUP BY 1),
       |rep AS (
       |  SELECT e.lang, e.n_rows, e.distinct_exact,
       |    m.n_min AS sketch_n_min,
       |    CASE WHEN m.n_min < $k THEN 0 ELSE m.kth END AS sketch_kth,
       |    CAST($est AS BIGINT) AS distinct_est
       |  FROM ex e JOIN mins m ON e.lang = m.lang)
       |SELECT lang, n_rows, distinct_exact, sketch_n_min, sketch_kth,
       |  distinct_est,
       |  CAST(${ExactAgg.Sql.divHalfUp(
                 "ABS(distinct_est - distinct_exact) * 1000000",
                 "GREATEST(distinct_exact, 1)")} AS BIGINT) AS rel_err_e6
       |FROM rep
       |ORDER BY lang""".stripMargin
  }

  /** Generated DuckDB re-derivation of the q129 Gopher repetition
    * signals: per n (the ranges and gate ceilings interpolate
    * [[graft.functions.Repetition]]'s constants — one source of truth),
    * n-gram window counts over the single-space tokens, the per-doc
    * top / duplicated occupancy and the shared e6 half-up division.
    * Docs with fewer than two n-gram windows fall out of the per-n CTE
    * and COALESCE to the 0 the engine also scores.
    */
  private def repetitionSignalsSql: String = {
    import graft.functions.Repetition
    val pairs = Repetition.TopNs.map(n => (n, s"top${n}_e6", true)) ++
      Repetition.DupNs.map(n => (n, s"dup${n}_e6", false))
    def gram(n: Int): String =
      (0 until n).map(k => s"sp[i + $k]").mkString(" || ' ' || ")
    val ctes = pairs.map { case (n, _, isTop) =>
      val agg =
        if (isTop) "MAX(c)"
        else "CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)"
      s"""cnt$n AS (
         |  SELECT doc_id, term, COUNT(*) AS c FROM (
         |    SELECT doc_id, ${gram(n)} AS term FROM (
         |      SELECT doc_id, unnest(range(1, len(sp) - $n + 2)) AS i, sp
         |      FROM base WHERE len(sp) - $n + 1 >= 2))
         |  GROUP BY 1, 2),
         |sig$n AS (
         |  SELECT c.doc_id,
         |    CAST(${ExactAgg.Sql.divHalfUp(s"$agg * 1000000", s"b.nt - $n + 1")} AS BIGINT) AS v
         |  FROM cnt$n c JOIN base b USING (doc_id)
         |  GROUP BY c.doc_id, b.nt)""".stripMargin
    }
    val selects = pairs.map { case (n, f, _) => s"COALESCE(s$n.v, 0) AS $f" }
    val gateConds = pairs.zip(Repetition.GateMaxE6).map {
      case ((n, _, _), m) => s"COALESCE(s$n.v, 0) <= $m"
    }
    val joins = pairs
      .map { case (n, _, _) => s"LEFT JOIN sig$n s$n ON s$n.doc_id = b.doc_id" }
      .mkString("\n")
    s"""WITH spt AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
       |base AS (SELECT doc_id, sp, len(sp) AS nt FROM spt),
       |${ctes.mkString(",\n")}
       |SELECT b.doc_id, CAST(b.nt AS BIGINT) AS n_tokens,
       |  ${selects.mkString(",\n  ")},
       |  CAST(CASE WHEN ${gateConds.mkString(" AND ")} THEN 1 ELSE 0 END AS BIGINT)
       |    AS gopher_ok
       |FROM base b
       |$joins
       |ORDER BY b.doc_id""".stripMargin
  }

  /** Generated DuckDB oracle for LM scoring against a persisted artifact
    * (q101 full-trained order 2, q108 incrementally-grown, q110 order 3):
    * ONE scoring SQL — single-space transitions at the model's order
    * (context = the n−1 preceding tokens space-joined), the hit →
    * known-context → global-floor coalesce ladder over the artifact
    * tables, the shared half-up mean — so the gates cannot drift; q101
    * additionally appends its fluency band ladder.
    */
  private def lmScoringOracleSql(
      modelRoot: String, withBand: Boolean, order: Int = 2): String = {
    val core =
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |tr AS (
         |  SELECT doc_id,
         |    array_to_string(t[CAST(i AS INT):CAST(i AS INT) + ${order - 2}], ' ') AS w1,
         |    t[CAST(i AS INT) + ${order - 1}] AS w2
         |  FROM toks, UNNEST(range(1, len(t) - ${order - 2})) AS u(i)),
         |lp AS (
         |  SELECT tr.doc_id,
         |    COALESCE(b.lp_e4, un.miss_lp_e4,
         |      (SELECT lp0_e4 FROM read_parquet('$modelRoot/defaults/*.parquet'))) AS l
         |  FROM tr
         |  LEFT JOIN read_parquet('$modelRoot/bigrams/*.parquet') b
         |    ON tr.w1 = b.w1 AND tr.w2 = b.w2
         |  LEFT JOIN read_parquet('$modelRoot/unigrams/*.parquet') un
         |    ON tr.w1 = un.w1),
         |s AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_transitions,
         |    CAST(SUM(l) AS BIGINT) AS lps
         |  FROM lp GROUP BY doc_id),
         |scored AS (
         |  SELECT d.doc_id,
         |    COALESCE(s.n_transitions, 0) AS n_transitions,
         |    COALESCE(CAST(${ExactAgg.Sql.divHalfUp("s.lps", "s.n_transitions")} AS BIGINT), 0) AS ppl_e4
         |  FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id)
         |""".stripMargin
    if (withBand)
      core +
        """SELECT doc_id, n_transitions, ppl_e4,
          |  CASE WHEN n_transitions = 0 THEN 'empty'
          |       WHEN ppl_e4 < 80000 THEN 'fluent'
          |       WHEN ppl_e4 < 120000 THEN 'mid'
          |       ELSE 'suspect' END AS band
          |FROM scored ORDER BY doc_id""".stripMargin
    else
      core + "SELECT doc_id, n_transitions, ppl_e4 FROM scored ORDER BY doc_id"
  }

  // The stamped fixtures this family's queries read.
  private val QualityModelFixture = Prebuild("quality_model", ensureQualityModel)
  private val TrainedModelFixture = Prebuild("quality_model_trained", ensureTrainedQualityModel)
  private val LangIdFixture = Prebuild("langid_model", ensureLangIdModel)
  private val LmFixture = Prebuild("bigram_lm", ensureLmFixture)
  private val LmIncFixture = Prebuild("bigram_lm_inc", ensureLmIncFixture)
  private val Lm3Fixture = Prebuild("trigram_lm", ensureLm3Fixture)
  private val DsirFixture = Prebuild("dsir", ensureDsirFixture)

  /** This family's registry records: builder, oracle and fixtures. */
  def records: Seq[Query] = Seq(
    // ---- LLM-pipeline: per-document quality scoring ----
    Query("q21_text_quality", { (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"),
          round(Text.avgTokenLen(col("text")), 4).as("avg_token_len"),
          round(Text.stopwordRatio(col("text")), 4).as("stopword_ratio"),
          Text.qualityBucket(col("text")).as("quality"))
        .orderBy("doc_id")
    }, oracle = _ => """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_token_len,
        |  ROUND(CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stopword_ratio,
        |  CASE WHEN len(string_split(text, ' ')) < 5 THEN 'TOO_SHORT'
        |       WHEN len(string_split(text, ' ')) > 5000 THEN 'TOO_LONG'
        |       WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) >= 0.05 THEN 'OK_FLUENT'
        |       ELSE 'OK_TERSE' END AS quality
        |FROM documents ORDER BY doc_id""".stripMargin),
    // ---- LLM-pipeline: language rollup ----
    Query("q22_lang_stats", { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          avgExactLong(Text.tokenCount(col("text")).cast("long")).as("avg_tokens"))
        .orderBy("lang")
    }, oracle = _ => s"""SELECT lang, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  ${sqlAvgLong("len(string_split(text, ' '))")} AS avg_tokens
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // ---- LLM-pipeline: corpus token frequencies (explode + top-k) ----
    Query("q23_token_freq", { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)
    }, oracle = _ => """SELECT token, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin),
    // ---- LLM-pipeline: marker-evidence language ID ----
    Query("q24_lang_id", { (s, dir) =>
      val markers = Map(
        "en" -> Seq("the", "a", "of", "is"),
        "es" -> Seq("el", "la", "de", "que"),
        "de" -> Seq("der", "die", "und", "ist"))
      Tables.documents(s, dir)
        .select(col("doc_id"), Text.langIdScore(col("text"), markers).as("predicted_lang"))
        .orderBy("doc_id")
    }, oracle = _ => """SELECT doc_id,
        |  CASE
        |    WHEN len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','ist')))
        |         >= len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','is')))
        |     AND len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','ist')))
        |         >= len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que'))) THEN 'de'
        |    WHEN len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','is')))
        |         >= len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que'))) THEN 'en'
        |    ELSE 'es' END AS predicted_lang
        |FROM documents ORDER BY doc_id""".stripMargin),
    // ---- LLM-pipeline: structural PII redaction with typed placeholders
    // and per-type audit counts. The synthetic corpus carries no PII, so
    // known-positive rows are INJECTED deterministically from doc_id —
    // identically in both engines (string concat of the same integers) —
    // giving every pattern positive AND negative rows. The three patterns
    // are the SAME shared constants in the Spark expression and the oracle
    // SQL (the q68 regex contract); the full redacted text is an output
    // column, so a wrong replacement cannot hash-pass ----
    // q76: identical injected text (string concat of the same integers),
    // the SAME three shared pattern constants, and the same
    // email -> ip -> phone replacement order
    Query("q76_pii_redaction", { (s, dir) =>
      val d = col("doc_id")
      val injected = concat(col("text"),
        when(d % 4 === 0,
          concat(lit(" contact user"), d.cast("string"), lit("@mail.example.com")))
          .when(d % 4 === 1,
            concat(lit(" call 415-555-"),
              lpad((d % 10000).cast("string"), 4, "0")))
          .when(d % 4 === 2,
            concat(lit(" from 10."), (d % 256).cast("string"), lit(".0."),
              ((d * 7) % 256).cast("string"),
              lit(" or user"), d.cast("string"), lit("@mail.example.com")))
          // adversarial arm (round-7 advice): the bounded-octet pattern
          // must NOT match any substring of 999.999.999.999, and must
          // match the range-valid quad EMBEDDED in v1.2.3.4 (the
          // documented no-lookaround residual) — n_ips = 1 for these rows
          .otherwise(lit(" version v1.2.3.4 build 999.999.999.999")))
      Tables.documentsHeavy(s, dir)
        .select(col("doc_id"), injected.as("__t"))
        .select(
          col("doc_id"),
          regexp_count(col("__t"), lit(Text.PiiEmailPattern)).cast("long").as("n_emails"),
          regexp_count(col("__t"), lit(Text.PiiPhonePattern)).cast("long").as("n_phones"),
          regexp_count(col("__t"), lit(Text.PiiIpv4Pattern)).cast("long").as("n_ips"),
          Text.redactPii(col("__t")).as("redacted"))
        .withColumn("red_len", length(col("redacted")).cast("long"))
        .orderBy("doc_id")
    }, oracle = _ => {
      val email = Text.PiiEmailPattern
      val phone = Text.PiiPhonePattern
      val ip = Text.PiiIpv4Pattern
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS redacted,
         |  CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
         |    '$phone', '<PHONE>', 'g')) AS BIGINT) AS red_len
         |FROM (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 4 = 0
         |           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
         |         WHEN doc_id % 4 = 1
         |           THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |         WHEN doc_id % 4 = 2
         |           THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
         |                || CAST((doc_id * 7) % 256 AS VARCHAR)
         |                || ' or user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
         |         ELSE ' version v1.2.3.4 build 999.999.999.999' END AS t
         |  FROM documents) s
         |ORDER BY doc_id""".stripMargin
    }),
    // ---- LLM-pipeline: word-trigram frequencies (codegen shingling) ----
    Query("q31_trigram_freq", { (s, dir) =>
      Text.explodeNgrams(Tables.documents(s, dir), "text", 3)
        .groupBy("ng")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ng"))
        .limit(20)
    }, oracle = _ => """SELECT ng, COUNT(*) AS cnt FROM (
        |  SELECT concat_ws(' ', t[CAST(i AS INT)+1], t[CAST(i AS INT)+2], t[CAST(i AS INT)+3]) AS ng
        |  FROM (SELECT string_split(text, ' ') AS t FROM documents) d,
        |       UNNEST(range(len(t) - 2)) AS u(i)) g
        |GROUP BY ng ORDER BY cnt DESC, ng LIMIT 20""".stripMargin),
    // ---- LLM-pipeline: corpus-global boilerplate filter — a trigram in
    // more than dfThreshold distinct docs is boilerplate (nav chrome,
    // license headers); each doc scored by its boilerplate-position
    // fraction in exact basis points. Shuffles carry 60-bit gram hashes,
    // never gram text ----
    // identical gram hashing (md5 15-hex prefix) and exact half-up basis
    // points as the Spark side; thresholds inlined from the q59 call
    Query("q59_boilerplate_filter", { (s, dir) =>
      Text.boilerplateStats(Tables.documentsHeavy(s, dir), "text", "doc_id",
          n = 3, dfThreshold = 10L, maxRatioE4 = 5000L)
        .orderBy("doc_id")
    }, oracle = _ => s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |grams AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substring(md5(
         |      concat_ws(' ', t[CAST(i AS INT)+1], t[CAST(i AS INT)+2], t[CAST(i AS INT)+3])), 1, 15)) AS BIGINT) AS h
         |  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)),
         |dc AS (SELECT doc_id, h, COUNT(*) AS c FROM grams GROUP BY doc_id, h),
         |vocab AS (
         |  SELECT h, 1 AS is_boiler FROM
         |    (SELECT h, COUNT(*) AS df FROM dc GROUP BY h) WHERE df > 10),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         |    CAST(SUM(CASE WHEN is_boiler IS NOT NULL THEN c ELSE 0 END) AS BIGINT) AS n_boiler
         |  FROM dc LEFT JOIN vocab USING (h) GROUP BY doc_id)
         |SELECT doc_id, n_grams, n_boiler,
         |  CAST(${ExactAgg.Sql.divHalfUp("n_boiler * 10000", "n_grams")} AS BIGINT) AS boiler_e4,
         |  CAST(CASE WHEN CAST(${ExactAgg.Sql.divHalfUp("n_boiler * 10000", "n_grams")} AS BIGINT) <= 5000
         |       THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM agg ORDER BY doc_id""".stripMargin),
    // ---- LLM-pipeline: URL/email scrub pass ----
    Query("q41_text_scrub", { (s, dir) =>
      Tables.documentsHeavy(s, dir)
        .withColumn("dirty",
          concat(col("text"), lit(" http://ex.com/"), col("doc_id"), lit(" u"), col("doc_id"), lit("@mail.com tail")))
        .select(
          col("doc_id"),
          length(col("dirty")).as("dirty_len"),
          length(Text.scrub(col("dirty"))).as("clean_len"))
        .orderBy("doc_id")
    }, oracle = _ => """SELECT doc_id,
        |  CAST(length(dirty) AS INTEGER) AS dirty_len,
        |  CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(dirty,
        |    'https?://[^ ]+', '', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '', 'g'),
        |    '  +', ' ', 'g'))) AS INTEGER) AS clean_len
        |FROM (
        |  SELECT doc_id,
        |    concat(text, ' http://ex.com/', doc_id, ' u', doc_id, '@mail.com tail') AS dirty
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin),
    // ---- LLM-pipeline: repetition/boilerplate signal (linear explode-agg;
    // ratio emitted as exact integer half-up e4 so no float rounding
    // crosses the engine boundary) ----
    Query("q42_repetition", { (s, dir) =>
      Text.topTokenRatios(Tables.documents(s, dir), "text", "doc_id")
        .select(
          col("doc_id"),
          (ExactAgg.divHalfUp(col("top_cnt") * 10000, col("tok_cnt")) / 10000.0)
            .as("top_token_ratio"))
        .orderBy("doc_id")
    }, oracle = _ => s"""SELECT doc_id, CAST(${ExactAgg.Sql.divHalfUp("mx * 10000", "n")} AS DOUBLE) / 10000.0 AS top_token_ratio FROM (
         |  SELECT doc_id, MAX(c) AS mx, SUM(c) AS n FROM (
         |    SELECT doc_id, tok, COUNT(*) AS c FROM (
         |      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u
         |    GROUP BY doc_id, tok) g
         |  GROUP BY doc_id) m
         |ORDER BY doc_id""".stripMargin),
    // ---- LLM-pipeline: deterministic content-stable train/val/test split ----
    Query("q49_split_assign", { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("split", ops.Sampling.splitLabel(col("doc_id")))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split", "lang")
    }, oracle = _ => """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |  lang, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT lang, n_chars,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |  FROM documents) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- LLM-pipeline: per-document top TF-IDF terms ----
    // score is pure int64: tf · round_half_up((N+1)·1e4/(df+1)) — no ln,
    // whose 1-ulp libm license could flip a floored fixed-point score
    // between engines (ADVICE r2)
    Query("q50_tfidf_top_terms", { (s, dir) =>
      Text.tfidfTopTerms(Tables.documents(s, dir), "text", "doc_id", 3)
        .select("doc_id", "term", "score_e4", "rank")
        .orderBy("doc_id", "rank")
    }, oracle = _ => s"""WITH tf AS (
         |  SELECT doc_id, tok AS term, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u
         |  GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    CAST(tf.tf * ${ExactAgg.Sql.divHalfUp("(nd.n_docs + 1) * 10000", "dfreq.df + 1")} AS BIGINT) AS score_e4
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd)
         |SELECT doc_id, term, score_e4,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_e4 DESC, term) AS INTEGER) AS rank
         |FROM scored QUALIFY rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    // ---- LLM-pipeline: deterministic weighted corpus mixing — per-lang
    // keep rates in basis points over a pure key-hash (stable across
    // engines/partitioning; nested across rate changes). Exercises full
    // keep (de), drop-all (zh), minority rate (en) and the default ----
    // q56: the same md5 key-hash as q49, at basis-point resolution, with
    // the per-stratum rate ladder mirrored as a CASE
    Query("q56_stratified_sample", { (s, dir) =>
      ops.Sampling.sampleByStratum(
          Tables.documents(s, dir), "doc_id", "lang",
          Map("en" -> 2500, "de" -> 10000, "zh" -> 0), defaultE4 = 5000)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, oracle = _ => """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS b
        |  FROM documents) t
        |WHERE b < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 10000 WHEN 'zh' THEN 0 ELSE 5000 END
        |ORDER BY doc_id""".stripMargin),
    // ---- LLM-pipeline: Misra-Gries heavy-hitter tokens — vocabulary-scale
    // frequent items WITHOUT a token shuffle (the map side compresses to
    // <= capacity counters per partition, like approx_count_distinct's HLL
    // buffers). The summary SET is legitimately partition-dependent, so
    // the gate asserts the sketch's mathematical guarantees against the
    // exact baseline — undercount-only, error <= n/(c+1), every item above
    // the threshold present — each deterministically TRUE for any correct
    // execution (the q39 exact-baseline discipline; both verification
    // joins run distributed against the capacity-bounded summary, no
    // vocabulary collect) ----
    // q94: exact token totals (the q68-pinned single-space tokenizer in
    // both engines) + the MG guarantees as deterministic flags
    Query("q94_heavy_hitter_tokens", { (s, dir) =>
      import s.implicits._
      val capacity = 64
      val toks = Tables.documents(s, dir)
        .select(explode(Text.tokens(col("text"))).as("tok"))
      val summary = toks.select(col("tok").as[String])
        .select(new HeavyHitters.MisraGries(capacity).toColumn).head().items
      val summaryDf = summary.map(i => (i.item, i.est)).toDF("tok", "est")
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val totals = exact.agg(
        sum(col("cnt")).as("n"), count(lit(1)).as("d")).head()
      val (n, nDistinct) = (totals.getLong(0), totals.getLong(1))
      // integer-exact guarantee checks: truth > n/(c+1)  <=>  truth*(c+1) > n
      val heavyMissing = exact
        .filter(col("cnt") * (capacity + 1) > n)
        .join(broadcast(summaryDf), Seq("tok"), "left_anti")
        .count()
      // bounds check: a broadcast hint on the PRESERVED side of a left
      // outer join is unbuildable and silently dropped (HintErrorLogger),
      // shuffling the corpus-wide counts. Instead semi-filter exact by the
      // capacity-bounded summary (broadcast-right, legal — the counts
      // stream map-side-pruned), then outer-join two summary-sized frames.
      val exactForSummary = exact
        .join(broadcast(summaryDf.select("tok")), Seq("tok"), "left_semi")
      val boundViolations = summaryDf
        .join(broadcast(exactForSummary), Seq("tok"), "left")
        .filter(col("cnt").isNull || col("est") > col("cnt") ||
          (col("cnt") - col("est")) * (capacity + 1) > n)
        .count()
      Seq((n, nDistinct,
        if (heavyMissing == 0L) 1L else 0L,
        if (boundViolations == 0L) 1L else 0L))
        .toDF("n_tokens", "n_distinct", "containment_ok", "bounds_ok")
    }, oracle = _ => """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
        |  CAST(1 AS BIGINT) AS containment_ok,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM toks""".stripMargin),
    // ---- the GROUPED composition of q94 — per-language heavy hitters via
    // KeyValueGroupedDataset.agg, the realistic usage (per-domain vocab):
    // one shuffle of capacity-bounded partial summaries per language, the
    // same guarantees asserted per group. The collected summaries are
    // (n_langs × capacity) rows — model-sized; the verification joins run
    // distributed against them ----
    // q95: q94's envelope per language
    Query("q95_heavy_hitters_by_lang", { (s, dir) =>
      import s.implicits._
      val capacity = 32
      val toksL = Tables.documents(s, dir)
        .select(col("lang"), explode(Text.tokens(col("text"))).as("tok"))
      val summaries = toksL.as[(String, String)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(new HeavyHitters.MisraGries(capacity).toColumn)
        .collect()
      val sumDf = summaries
        .flatMap { case (lang, sm) => sm.items.map(i => (lang, i.item, i.est)) }
        .toSeq.toDF("lang", "tok", "est")
      val exact = toksL.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      val perLang = exact.groupBy("lang")
        .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("n_distinct"))
      val missing = exact
        .join(perLang.select(col("lang"), col("n_tokens").as("__n")), Seq("lang"))
        .filter(col("cnt") * (capacity + 1) > col("__n"))
        .join(broadcast(sumDf), Seq("lang", "tok"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("__miss"))
      // same preserved-side-hint fix as q94: semi-filter the corpus-wide
      // counts by the (n_langs × capacity) summary before the outer join
      val exactForSum = exact
        .join(broadcast(sumDf.select("lang", "tok")), Seq("lang", "tok"), "left_semi")
      val violations = sumDf
        .join(broadcast(exactForSum), Seq("lang", "tok"), "left")
        .join(perLang.select(col("lang"), col("n_tokens").as("__n")), Seq("lang"))
        .filter(col("cnt").isNull || col("est") > col("cnt") ||
          (col("cnt") - col("est")) * (capacity + 1) > col("__n"))
        .groupBy("lang").agg(count(lit(1)).as("__viol"))
      perLang
        .join(missing, Seq("lang"), "left")
        .join(violations, Seq("lang"), "left")
        .select(
          col("lang"), col("n_tokens"), col("n_distinct"),
          (coalesce(col("__miss"), lit(0L)) === 0L).cast("long").as("containment_ok"),
          (coalesce(col("__viol"), lit(0L)) === 0L).cast("long").as("bounds_ok"))
        .orderBy("lang")
    }, oracle = _ => """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
        |  CAST(1 AS BIGINT) AS containment_ok,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin),
    // ---- LLM-pipeline: fixed-size per-stratum sampling ("exactly 20 eval
    // docs per language") — reservoir sampling's job done content-stably:
    // hash-rank order is a pure function of the keys, so replays and
    // repartitions draw the SAME sample and DuckDB reproduces it exactly
    // (a full value oracle, not an envelope). Salted so the carve
    // decorrelates from the module's other unsalted key decisions ----
    // q96: the exact hash-rank carve — the same 60-bit md5 hash of the
    // '#carve-v1'-salted key, ranked per stratum
    Query("q96_fixed_size_sample", { (s, dir) =>
      Sampling.takePerStratum(
        Tables.documents(s, dir), "doc_id", "lang", n = 20, salt = "carve-v1")
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    }, oracle = _ => """SELECT lang, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), '#carve-v1')), 1, 15)) AS BIGINT),
        |      doc_id) AS rk
        |  FROM documents WHERE doc_id IS NOT NULL) t
        |WHERE rk <= 20 ORDER BY lang, doc_id""".stripMargin),
    // ---- LLM-pipeline: fastText-style quality-classifier INFERENCE
    // (round-11 verdict #2) — a persisted (bucket, weight) linear model
    // over hashed unigram+bigram features, scored per document in exact
    // integer fixed point. One codegen map pass, model as a plan constant,
    // zero pre-sort exchanges (PlanAuditSpec pins it). The installed demo
    // table's weights are a pure formula of the bucket index, so DuckDB
    // re-derives the ENTIRE path — hash, bucket, weight, sum, rounding —
    // from the base table (full value oracle, no fixture join) ----
    // q98: the full classifier path re-derived in SQL — same single-space
    // tokens (+ empty-token contract), same space-joined bigrams, same
    // 60-bit md5 bucket hash, the same weight formula the installed model
    // table was synthesized from, and the shared half-up fixed-point mean
    Query("q98_quality_classifier", { (s, dir) =>
      val model = QualityClassifier.readModel(s, s"${ensureQualityModel(s, dir)}/model")
      QualityClassifier.classify(Tables.documents(s, dir), "text", model)
        .select("doc_id", "n_feats", "score_e4", "label")
        .orderBy("doc_id")
    }, oracle = _ => s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |feats AS (
         |  SELECT doc_id, unnest(t) AS f FROM toks
         |  UNION ALL
         |  SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS f
         |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
         |scored AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         |    CAST(SUM(${graft.functions.QualityClassifier.Sql.weight(
                  graft.functions.QualityClassifier.Sql.bucket("f",
                    graft.functions.QualityClassifier.DefaultDim))}) AS BIGINT) AS wsum
         |  FROM feats GROUP BY doc_id)
         |SELECT doc_id, n_feats, score_e4,
         |  CASE WHEN score_e4 >= 0 THEN 'keep' ELSE 'drop' END AS label
         |FROM (
         |  SELECT doc_id, n_feats,
         |    CAST(${ExactAgg.Sql.divHalfUp("(wsum + 0) * 10000", "n_feats")} AS BIGINT) AS score_e4
         |  FROM scored)
         |ORDER BY doc_id""".stripMargin,
      fixtures = Seq(QualityModelFixture)),
    // ---- LLM-pipeline: Gopher-style per-domain caps (round-11 verdict
    // #3) — URLs synthesized deterministically from doc_id (one host,
    // "hub", takes every third doc; forty "siteN" hosts share the tail),
    // host + registrable domain extracted by the shared regex constants,
    // and each over-represented host capped to 25 docs via the MG-sketch →
    // exact-confirm → q96-carve composition. Tail hosts bypass the window
    // exchange entirely; the oracle re-derives the exact carve because the
    // sketch's containment guarantee makes candidate generation lossless
    // at this capacity ----
    // q99: exact re-derivation of the cap — same synthesized URLs, same
    // host/domain regex constants, same salted 60-bit hash rank as the q96
    // carve; "kept" = tail host (count <= cap) OR rank within cap. The MG
    // sketch on the Spark side is candidate generation only and is
    // lossless at the auto-derived capacity, so the results coincide
    Query("q99_domain_cap", { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .withColumn("url", concat(
          lit("https://"),
          when(col("doc_id") % 3 === 0, lit("hub"))
            .otherwise(concat(lit("site"), (col("doc_id") % 40).cast("string"))),
          lit(".example.com/p/"), col("doc_id").cast("string")))
        .withColumn("host", UrlOps.host(col("url")))
      UrlOps.capPerDomainAuto(docs, "host", "doc_id", cap = 25, salt = "domcap-v1")
        .select(col("host"),
          UrlOps.registrableDomain(col("host")).as("domain"),
          col("doc_id"))
        .orderBy("host", "doc_id")
    }, oracle = _ => s"""WITH d AS (
         |  SELECT doc_id,
         |    regexp_extract(
         |      'https://' ||
         |      CASE WHEN doc_id % 3 = 0 THEN 'hub'
         |           ELSE 'site' || CAST(doc_id % 40 AS VARCHAR) END ||
         |      '.example.com/p/' || CAST(doc_id AS VARCHAR),
         |      '${UrlOps.HostPattern}', 1) AS host
         |  FROM documents),
         |c AS (SELECT host, COUNT(*) AS n FROM d GROUP BY host),
         |r AS (
         |  SELECT d.host, d.doc_id, c.n,
         |    row_number() OVER (PARTITION BY d.host ORDER BY
         |      CAST(concat('0x', substring(md5(concat(CAST(d.doc_id AS VARCHAR), '#domcap-v1')), 1, 15)) AS BIGINT),
         |      d.doc_id) AS rk
         |  FROM d JOIN c ON d.host = c.host)
         |SELECT host, regexp_extract(host, '${UrlOps.DomainPattern}', 1) AS domain, doc_id
         |FROM r WHERE n <= 25 OR rk <= 25
         |ORDER BY host, doc_id""".stripMargin),
    // ---- LLM-pipeline: CCNet-style bigram-LM perplexity filter — the
    // model trained on this corpus slice persists as INTEGER log-prob
    // tables (the one log quantization happens at train time), scoring
    // resolves bigram-hit → known-w1 floor → global floor entirely from
    // the artifact, and the band ladder buckets docs by mean transition
    // log-prob. The oracle joins the SAME persisted tables (q100
    // shared-artifact discipline) — full value gate, no float crosses
    // the engine boundary ----
    // q101: same single-space transitions, the SAME persisted integer
    // log-prob tables (trained artifact = shared source of truth), same
    // coalesce ladder and half-up mean, same band thresholds
    Query("q101_lm_perplexity", { (s, dir) =>
      val fixture = ensureLmFixture(s, dir)
      LangModel.scoreDocs(Tables.documentsHeavy(s, dir), "text", "doc_id", s"$fixture/model")
        .withColumn("band",
          when(col("n_transitions") === 0, "empty")
            .when(col("ppl_e4") < 80000L, "fluent")
            .when(col("ppl_e4") < 120000L, "mid")
            .otherwise("suspect"))
        .orderBy("doc_id")
    }, oracle = dir => lmScoringOracleSql(s"${Fixture.path(dir, "bigram_lm")}/model", withBand = true),
      fixtures = Seq(LmFixture)),
    // ---- LLM-pipeline: Unicode canonicalization (NFC + zero-width
    // strip) — the normalize-before-everything ingest stage. The corpus
    // is ASCII-clean, so known non-NFC suffixes are INJECTED
    // deterministically from doc_id (the q76 discipline: every branch
    // gets positive AND negative rows) — combining acute that must
    // compose, the Angstrom singleton that must map to Å, a zero-width
    // space that must strip, and an already-canonical tail. DuckDB
    // re-derives via its own independent nfc_normalize, so the JVM
    // Normalizer is value-checked byte-for-byte ----
    // q103: identical injected suffixes (chr() forms of the same code
    // points), DuckDB's OWN nfc_normalize + the shared zero-width class
    // (literal code points — RE2 has no \\u escapes), 'g' for
    // replace-all parity with Spark's regexp_replace
    Query("q103_unicode_normalize", { (s, dir) =>
      val d = col("doc_id")
      // decomposed e+combining-acute (must compose), the U+212B Angstrom
      // singleton (must map to U+00C5), an embedded zero-width space
      // (must strip), and an already-canonical tail (must pass unchanged)
      def injected = concat(col("text"),
        when(d % 4 === 0, lit(" café"))
          .when(d % 4 === 1, lit(" Å"))
          .when(d % 4 === 2, lit(" zw​sp"))
          .otherwise(lit(" plain")))
      Tables.documents(s, dir)
        .select(d,
          graft.functions.Normalize.canonicalize(injected).as("norm_text"),
          injected.as("__raw"))
        .withColumn("changed", (col("norm_text") =!= col("__raw")).cast("long"))
        .withColumn("n_chars", length(col("norm_text")).cast("long"))
        .drop("__raw")
        .orderBy("doc_id")
    }, oracle = _ => s"""WITH inj AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 4 = 0 THEN ' cafe' || chr(769)
         |         WHEN doc_id % 4 = 1 THEN ' ' || chr(8491)
         |         WHEN doc_id % 4 = 2 THEN ' zw' || chr(8203) || 'sp'
         |         ELSE ' plain' END AS raw
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, raw,
         |    regexp_replace(nfc_normalize(raw), '${graft.functions.Normalize.ZeroWidthPattern}', '', 'g') AS norm_text
         |  FROM inj)
         |SELECT doc_id, norm_text,
         |  CAST(norm_text <> raw AS BIGINT) AS changed,
         |  CAST(length(norm_text) AS BIGINT) AS n_chars
         |FROM n ORDER BY doc_id""".stripMargin),
    // ---- LLM-pipeline: deterministic training-order shuffle — the final
    // epoch permutation a shard writer iterates in: salted hash-rank
    // order (reproducible pseudo-random; new salt = new epoch), shard
    // from the hash (map-side, no global count barrier). Full value
    // oracle incl. row order: the same md5 formula ranks in DuckDB ----
    // q104: the same salted 60-bit hash, ranked; shard = hash mod 16
    Query("q104_training_order", { (s, dir) =>
      Sampling.trainingOrder(Tables.documents(s, dir), "doc_id",
          shards = 16, salt = "epoch0")
        .select("doc_id", "shuffle_key", "shard")
    }, oracle = _ => """SELECT doc_id, shuffle_key, shuffle_key % 16 AS shard FROM (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), '#epoch0')), 1, 15)) AS BIGINT) AS shuffle_key
        |  FROM documents WHERE doc_id IS NOT NULL) t
        |ORDER BY shuffle_key, doc_id""".stripMargin),
    // ---- LLM-pipeline: chat-template rendering (SFT data prep) —
    // (system, user, assistant) turns synthesized deterministically from
    // documents (every fifth doc gets a NULL system prompt, pinning the
    // empty-turn contract), serialized with the shared ChatML constants,
    // and token-budgeted. The oracle renders with the SAME generated
    // template, so any drift in special tokens or turn order hash-fails ----
    // q107: identical synthesized turns, the template generated from the
    // SAME constants (ChatTemplate.renderSql)
    Query("q107_chat_template", { (s, dir) =>
      val d = col("doc_id")
      graft.ops.ChatTemplate.renderConversations(
        Tables.documents(s, dir)
          .withColumn("system",
            when(d % 5 === 0, lit(null).cast("string"))
              .otherwise(concat(lit("You are assistant "), (d % 7).cast("string"))))
          .withColumn("user", concat(lit("Summarize document "), d.cast("string")))
          .withColumn("assistant", col("text")),
        "system", "user", "assistant")
        .select("doc_id", "rendered", "rendered_tokens")
        .orderBy("doc_id")
    }, oracle = _ => {
      val rendered = graft.ops.ChatTemplate.renderSql(
        "(CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 'You are assistant ' || CAST(doc_id % 7 AS VARCHAR) END)",
        "('Summarize document ' || CAST(doc_id AS VARCHAR))",
        "text")
      s"""SELECT doc_id, $rendered AS rendered,
         |  CAST(len(string_split($rendered, ' ')) AS BIGINT) AS rendered_tokens
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    // ---- LLM-pipeline: INCREMENTALLY-built LM served end-to-end — the
    // model grown as a generational count-fact index (install gen 0 on
    // the even docs, append gen 1 as the %4==1 quarter, refresh via
    // staged swap; the %4==3 quarter stays unseen so scoring exercises
    // every miss ladder) under the shared IndexProtocol. Spec-pinned
    // equal to a full retrain on the same union; the oracle joins the
    // refreshed artifact (q101's shared-artifact family) ----
    // q108: the q101 scoring SQL against the INCREMENTALLY-refreshed
    // artifact (same shared-artifact family; no band ladder — the gate's
    // subject is the grown model's serve path)
    Query("q108_lm_incremental", { (s, dir) =>
      val fixture = ensureLmIncFixture(s, dir)
      LangModel.scoreDocs(Tables.documentsHeavy(s, dir), "text", "doc_id",
          LangModel.modelRoot(s"$fixture/inc"))
        .orderBy("doc_id")
    }, oracle = dir => lmScoringOracleSql(
        s"${Fixture.path(dir, "bigram_lm_inc")}/inc/model", withBand = false),
      fixtures = Seq(LmIncFixture)),
    // ---- LLM-pipeline: ORDER-3 LM perplexity (round-12 verdict #2) —
    // the same integer-artifact scoring family as q101 with the context
    // generalized to the two preceding tokens (CCNet's real filter is a
    // 5-gram KenLM; the order is a training knob recorded in the
    // artifact's layout, so scoring can never probe at the wrong n).
    // Same plan shape: explode → size-chosen model joins → one id-keyed
    // agg, no corpus join-back (PlanAuditSpec) ----
    // q110: the q101 scoring SQL generalized to the order-3 context (the
    // two preceding tokens space-joined) against the trigram artifact
    Query("q110_lm_trigram", { (s, dir) =>
      val fixture = ensureLm3Fixture(s, dir)
      LangModel.scoreDocs(Tables.documentsHeavy(s, dir), "text", "doc_id",
          s"$fixture/model")
        .orderBy("doc_id")
    }, oracle = dir => lmScoringOracleSql(
        s"${Fixture.path(dir, "trigram_lm")}/model", withBand = false, order = 3),
      fixtures = Seq(Lm3Fixture)),
    // ---- LLM-pipeline: in-engine classifier TRAINING (round-12 verdict
    // #1) — the q98 family's missing half: a deterministic closed-form
    // centroid fit over the hashed feature space (one explode + hash agg,
    // dim-bounded collect), persisted as the same (bucket, weight)
    // artifact, then served back through the q98 inference path — the
    // full train → install → score production loop in one gate. The
    // oracle re-derives EVERYTHING — labels, markers, buckets, class
    // shares, weights, scores — from the base table and the shared
    // integer constants (no fixture join: the trained model is itself
    // re-derivable, which is the point of closed-form training) ----
    // q109: the ENTIRE train→score loop re-derived in SQL — same labels
    // and markers, same feature space and 60-bit md5 buckets (the q98
    // CTEs), the same e6 centroid-share weight formula over the class
    // totals, and the shared half-up fixed-point mean. Every scored
    // feature was trained on (same corpus), so the weight join is total.
    Query("q109_classifier_train", { (s, dir) =>
      val fixture = ensureTrainedQualityModel(s, dir)
      val model = QualityClassifier.readModel(s, s"$fixture/model")
      QualityClassifier.classify(qcLabeled(Tables.documents(s, dir)), "__ltext", model)
        .select("doc_id", "n_feats", "score_e4", "label")
        .orderBy("doc_id")
    }, oracle = _ => {
      val dim = QualityClassifier.DefaultDim
      val scale = QualityClassifier.TrainScale
      s"""WITH lab AS (
         |  SELECT doc_id, doc_id % 2 = 0 AS lbl,
         |    text || CASE WHEN doc_id % 2 = 0 THEN '$QcGoodMark'
         |                 ELSE '$QcBadMark' END AS ltext
         |  FROM documents),
         |toks AS (SELECT doc_id, lbl, string_split(ltext, ' ') AS t FROM lab),
         |feats AS (
         |  SELECT doc_id, lbl, unnest(t) AS f FROM toks
         |  UNION ALL
         |  SELECT doc_id, lbl, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS f
         |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
         |bk AS (SELECT doc_id, lbl,
         |    ${graft.functions.QualityClassifier.Sql.bucket("f", dim)} AS bucket
         |  FROM feats),
         |cnt AS (SELECT bucket,
         |    SUM(CASE WHEN lbl THEN 1 ELSE 0 END) AS g,
         |    SUM(CASE WHEN lbl THEN 0 ELSE 1 END) AS b
         |  FROM bk GROUP BY bucket),
         |tot AS (SELECT SUM(g) AS gt, SUM(b) AS bt FROM cnt),
         |w AS (SELECT bucket,
         |    CAST(${ExactAgg.Sql.divHalfUp(s"g * $scale", "gt")}
         |      - ${ExactAgg.Sql.divHalfUp(s"b * $scale", "bt")} AS BIGINT) AS wt
         |  FROM cnt, tot),
         |scored AS (
         |  SELECT bk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         |    SUM(w.wt) AS wsum
         |  FROM bk JOIN w USING (bucket) GROUP BY bk.doc_id)
         |SELECT doc_id, n_feats, score_e4,
         |  CASE WHEN score_e4 >= 0 THEN 'keep' ELSE 'drop' END AS label
         |FROM (
         |  SELECT doc_id, n_feats,
         |    CAST(${ExactAgg.Sql.divHalfUp("wsum * 10000", "n_feats")} AS BIGINT) AS score_e4
         |  FROM scored)
         |ORDER BY doc_id""".stripMargin
    }, fixtures = Seq(TrainedModelFixture)),
    // ---- multi-class in-engine lang-id TRAINING (round-13 verdict #3):
    // the q109 centroid trainer generalized to K classes — one explode +
    // (class, bucket) hash agg fit, one (class, bucket, weight) artifact,
    // argmax serve in one codegen map stage with the K weight tables as
    // plan constants. The oracle re-derives the ENTIRE loop — labels,
    // markers, buckets, per-class shares, weights, scores, argmax with
    // the alphabetical tiebreak — from the base table and the shared
    // integer constants (the q109 discipline at K=3) ----
    // q116: the q109 train->score re-derivation generalized to three
    // classes — per-class bucket counts, e6 share weights over each
    // class total, per-document mean scores, argmax with the
    // alphabetical tiebreak; same feature CTEs, same shared constants
    Query("q116_langid_train", { (s, dir) =>
      val fixture = ensureLangIdModel(s, dir)
      val models = QualityClassifier.readMultiModel(s, s"$fixture/model")
      QualityClassifier.classifyMulti(
          langIdLabeled(Tables.documents(s, dir)), "__ltext", models)
        .select("doc_id", "n_feats",
          "score_de_e4", "score_en_e4", "score_fr_e4", "pred")
        .orderBy("doc_id")
    }, oracle = _ => {
      val dim = QualityClassifier.DefaultDim
      val scale = QualityClassifier.TrainScale
      val Seq((cDe, mDe), (cEn, mEn), (cFr, mFr)) = LangIdMarks
      val g = "GREATEST(score_de_e4, score_en_e4, score_fr_e4)"
      s"""WITH lab AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN '$cDe'
         |         WHEN doc_id % 3 = 1 THEN '$cEn' ELSE '$cFr' END AS cls,
         |    text || CASE WHEN doc_id % 3 = 0 THEN '$mDe'
         |                 WHEN doc_id % 3 = 1 THEN '$mEn'
         |                 ELSE '$mFr' END AS ltext
         |  FROM documents),
         |toks AS (SELECT doc_id, cls, string_split(ltext, ' ') AS t FROM lab),
         |feats AS (
         |  SELECT doc_id, cls, unnest(t) AS f FROM toks
         |  UNION ALL
         |  SELECT doc_id, cls, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS f
         |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
         |bk AS (SELECT doc_id, cls,
         |    ${graft.functions.QualityClassifier.Sql.bucket("f", dim)} AS bucket
         |  FROM feats),
         |cnt AS (SELECT bucket,
         |    SUM(CASE WHEN cls = '$cDe' THEN 1 ELSE 0 END) AS c_de,
         |    SUM(CASE WHEN cls = '$cEn' THEN 1 ELSE 0 END) AS c_en,
         |    SUM(CASE WHEN cls = '$cFr' THEN 1 ELSE 0 END) AS c_fr
         |  FROM bk GROUP BY bucket),
         |tot AS (SELECT SUM(c_de) AS t_de, SUM(c_en) AS t_en, SUM(c_fr) AS t_fr FROM cnt),
         |w AS (SELECT bucket,
         |    CAST(${ExactAgg.Sql.divHalfUp(s"c_de * $scale", "t_de")} AS BIGINT) AS w_de,
         |    CAST(${ExactAgg.Sql.divHalfUp(s"c_en * $scale", "t_en")} AS BIGINT) AS w_en,
         |    CAST(${ExactAgg.Sql.divHalfUp(s"c_fr * $scale", "t_fr")} AS BIGINT) AS w_fr
         |  FROM cnt, tot),
         |scored AS (
         |  SELECT bk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         |    SUM(w.w_de) AS ws_de, SUM(w.w_en) AS ws_en, SUM(w.w_fr) AS ws_fr
         |  FROM bk JOIN w USING (bucket) GROUP BY bk.doc_id),
         |sc AS (
         |  SELECT doc_id, n_feats,
         |    CAST(${ExactAgg.Sql.divHalfUp("ws_de * 10000", "n_feats")} AS BIGINT) AS score_de_e4,
         |    CAST(${ExactAgg.Sql.divHalfUp("ws_en * 10000", "n_feats")} AS BIGINT) AS score_en_e4,
         |    CAST(${ExactAgg.Sql.divHalfUp("ws_fr * 10000", "n_feats")} AS BIGINT) AS score_fr_e4
         |  FROM scored)
         |SELECT doc_id, n_feats, score_de_e4, score_en_e4, score_fr_e4,
         |  CASE WHEN score_de_e4 = $g THEN '$cDe'
         |       WHEN score_en_e4 = $g THEN '$cEn' ELSE '$cFr' END AS pred
         |FROM sc
         |ORDER BY doc_id""".stripMargin
    }, fixtures = Seq(LangIdFixture)),
    // ---- deterministic WITH-REPLACEMENT upsampling (round-13 verdict
    // #4): epoch mixing's missing half — rates above 1.0 epoch ("2.3x
    // wikipedia") emit floor(rate) unconditional replicas plus a
    // fractional replica drawn by a per-replica salted key hash, so the
    // draw is content-stable, replay-identical and monotone in the rate.
    // One explode + a codegen predicate, no shuffle before the
    // presentation sort; the oracle re-derives every replica decision
    // from the shared md5 formula (the q56 basis-point discipline) ----
    // q117: the replica ladder re-derived — full replicas below
    // floor(rate/1e4) are unconditional, the fractional replica draws by
    // the same salted 60-bit md5 hash mod 1e4 ('key#mix-v1#rep<i>')
    Query("q117_epoch_upsample", { (s, dir) =>
      Sampling.upsampleByStratum(
          Tables.documents(s, dir).select("doc_id", "lang"),
          "doc_id", "lang",
          ratesE4 = Map("en" -> 23000, "de" -> 15000, "fr" -> 10000, "zh" -> 4000),
          defaultE4 = 7500, salt = "mix-v1")
        .orderBy("doc_id", "replica")
    }, oracle = _ => s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    CASE lang WHEN 'en' THEN 23000 WHEN 'de' THEN 15000
         |              WHEN 'fr' THEN 10000 WHEN 'zh' THEN 4000
         |              ELSE 7500 END AS rate
         |  FROM documents WHERE doc_id IS NOT NULL),
         |rep AS (
         |  SELECT doc_id, lang, rate,
         |    unnest(range(0, CAST(rate // 10000 AS BIGINT) + 1)) AS replica
         |  FROM r)
         |SELECT doc_id, lang, CAST(replica AS BIGINT) AS replica
         |FROM rep
         |WHERE replica < CAST(rate // 10000 AS BIGINT)
         |   OR (CAST(concat('0x', substring(md5(
         |        CAST(doc_id AS VARCHAR) || '#mix-v1#rep' || CAST(replica AS VARCHAR)
         |      ), 1, 15)) AS BIGINT) % 10000) < rate % 10000
         |ORDER BY doc_id, replica""".stripMargin),
    // ---- LLM-pipeline: the Gopher repetition-filter family (top 2-4-gram
    // fraction + duplicated 5-10-gram fraction, occurrence-weighted exact
    // e6 — graft.functions.Repetition) as ONE codegen map pass per doc:
    // no explode, no shuffle — repetition is a function of one document,
    // so at 100 TB it must not pay the (doc, ngram) exchange that
    // cross-document statistics legitimately do. gopher_ok applies the
    // paper's published ceilings (one shared constant with the oracle) ----
    Query("q129_repetition_signals", { (s, dir) =>
      import graft.functions.Repetition
      val fields = Repetition.SignalFields
      val gate = fields.zip(Repetition.GateMaxE6)
        .map { case (f, m) => col(s"r.$f") <= m }
        .reduce(_ && _)
      Tables.documentsHeavy(s, dir)
        .select(col("doc_id"), Repetition.signals(col("text")).as("r"))
        .select(col("doc_id") +: col("r.n_tokens").as("n_tokens") +:
          fields.map(f => col(s"r.$f").as(f)) :+
          gate.cast("long").as("gopher_ok"): _*)
        .orderBy("doc_id")
    }, oracle = _ => repetitionSignalsSql),
    // ---- LLM-pipeline: KMV distinct-count sketch (bottom-k theta family,
    // graft.functions.Kmv) as the corpus cardinality monitor — mergeable
    // bounded state through the partial-aggregate machinery instead of a
    // full distinct shuffle. Built on the engine's shared md5-60bit hash,
    // so unlike HLL++ the oracle re-derives the k-minima, the estimator
    // and the relative error BIT-IDENTICALLY from the base table: a full
    // value gate on a sketch (k=32 saturates on every lang at gate SFs —
    // the estimator path, not the exact fallback, is what's gated) ----
    Query("q130_kmv_cardinality", { (s, dir) =>
      graft.functions.Kmv
        .distinctReport(Tables.documents(s, dir), "lang", "text", k = KmvK)
        .orderBy("lang")
    }, oracle = _ => kmvCardinalitySql),
    // ---- LLM-pipeline: DSIR importance resampling (Xie et al. 2023,
    // graft.functions.Dsir) — select raw-corpus docs whose hashed n-gram
    // distribution looks like the target slice. Importance weights
    // quantize once at fixture build (persisted via the quality-model
    // artifact), Gumbel-top-n noise comes from a persisted quantized
    // inverse-CDF table indexed by the salted key hash, and selection is
    // a threshold predicate against the distributed n-th rank — never a
    // partitionless window. Oracle re-derives every integer from the two
    // persisted tables and ranks with the same (key desc, id) order ----
    // q131: the q98 hashed-feature machinery against the persisted DSIR
    // weight table, the persisted Gumbel table joined by the q99 salted-
    // hash idiom, and the same (key desc, id) rank — selected = rn <= n,
    // which the Spark side's threshold predicate reproduces exactly
    Query("q131_dsir_resample", { (s, dir) =>
      val fixture = ensureDsirFixture(s, dir)
      val model = graft.functions.QualityClassifier.readModel(s, s"$fixture/model")
      graft.functions.Dsir.importanceResample(
        Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 3),
        "text", "doc_id", model, n = DsirN, salt = DsirSalt)
        .orderBy("doc_id")
    }, oracle = dir => s"""WITH raw AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM raw),
         |feats AS (
         |  SELECT doc_id, unnest(t) AS f FROM toks
         |  UNION ALL
         |  SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS f
         |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
         |w AS (SELECT bucket, weight
         |  FROM read_parquet('${Fixture.path(dir, "dsir")}/model/*.parquet')
         |  WHERE bucket >= 0),
         |scored AS (
         |  SELECT fb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         |    CAST(SUM(COALESCE(w.weight, 0)) AS BIGINT) AS logw_e4
         |  FROM (SELECT doc_id,
         |      ${graft.functions.QualityClassifier.Sql.bucket("f",
                   graft.functions.QualityClassifier.DefaultDim)} AS b
         |    FROM feats) fb
         |  LEFT JOIN w ON fb.b = w.bucket
         |  GROUP BY fb.doc_id),
         |noised AS (
         |  SELECT s.doc_id, s.n_feats, s.logw_e4, g.g_e4 AS gumbel_e4,
         |    s.logw_e4 + g.g_e4 AS key_e4
         |  FROM scored s
         |  JOIN read_parquet('${Fixture.path(dir, "dsir")}/gumbel/*.parquet') g
         |    ON g.i = CAST(concat('0x', substring(
         |        md5(concat(CAST(s.doc_id AS VARCHAR), '#$DsirSalt')), 1, 15))
         |      AS BIGINT) % ${graft.functions.Dsir.GumbelResolution}),
         |ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY key_e4 DESC, doc_id) AS rn
         |  FROM noised)
         |SELECT doc_id, n_feats, logw_e4, gumbel_e4, key_e4,
         |  CAST(CASE WHEN rn <= $DsirN THEN 1 ELSE 0 END AS BIGINT) AS selected
         |FROM ranked
         |ORDER BY doc_id""".stripMargin,
      fixtures = Seq(DsirFixture))
  )
}
