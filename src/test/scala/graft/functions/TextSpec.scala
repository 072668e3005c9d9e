package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount / regexTokenCount") {
    val out = Seq("the quick brown fox", "a b", "x").toDF("t")
      .select(Text.tokenCount(col("t")), Text.regexTokenCount(col("t")))
      .as[(Int, Int)].collect().toSeq
    assert(out == Seq((4, 4), (2, 2), (1, 1)))
  }

  test("explodeNgrams produces overlapping windows; short docs yield no rows") {
    val out = Text.explodeNgrams(Seq("a b c d", "a b").toDF("t"), "t", 3)
      .select("ng").as[String].collect().toSeq
    assert(out.sorted == Seq("a b c", "b c d"))
  }

  test("topTokenRatios counts the dominant token linearly") {
    val out = Text.topTokenRatios(
        Seq((1L, "x x x y z"), (2L, "a b")).toDF("doc_id", "t"), "t", "doc_id")
      .select("doc_id", "top_cnt", "tok_cnt", "ratio")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, m, n, r) => id -> ((m, n, r)) }.toMap
    assert(out(1L) == ((3L, 5L, 0.6)))
    assert(out(2L) == ((1L, 2L, 0.5)))
  }

  test("stopwordRatio counts default stopwords") {
    val r = Seq("the cat and the dog").toDF("t")
      .select(Text.stopwordRatio(col("t"))).as[Double].head()
    assert(math.abs(r - 3.0 / 5.0) < 1e-12)
  }

  test("avgTokenLen excludes separators") {
    val r = Seq("ab cdef").toDF("t").select(Text.avgTokenLen(col("t"))).as[Double].head()
    assert(r == 3.0) // (7 - 1) / 2
  }

  test("qualityBucket ladder") {
    val out = Seq(
      "one two three",                       // < 5 tokens
      "the alpha beta gamma delta epsilon",  // fluent (has stopword)
      "alpha beta gamma delta epsilon zeta") // no stopwords
      .toDF("t").select(Text.qualityBucket(col("t"))).as[String].collect().toSeq
    assert(out == Seq("TOO_SHORT", "OK_FLUENT", "OK_TERSE"))
  }

  test("langIdScore picks the argmax with deterministic tiebreak") {
    val markers = Map(
      "en" -> Seq("the", "a"),
      "es" -> Seq("el", "la"),
      "de" -> Seq("der", "die"))
    val out = Seq(
      "the cat sat",       // en evidence
      "el gato la casa",   // es evidence
      "nothing matches")   // all zero -> first sorted key (de)
      .toDF("t").select(Text.langIdScore(col("t"), markers)).as[String].collect().toSeq
    assert(out == Seq("en", "es", "de"))
  }

  test("langIdScore stays linear-sized at a realistic language count") {
    // the previous fold ladder doubled the expression tree per language
    // (~2^L leaves) — at 16 languages analysis alone would explode. Build
    // 16 languages and check the argmax + first-key tiebreak still hold.
    val markers = (0 until 16).map { i =>
      f"l$i%02d" -> Seq(f"w$i%02d", f"x$i%02d")
    }.toMap
    val out = Seq(
      "w07 x07 w07 w03",   // l07 wins 3-1
      "w02 w09",           // tie -> alphabetically first (l02)
      "nothing")           // all zero -> first sorted key (l00)
      .toDF("t").select(Text.langIdScore(col("t"), markers)).as[String].collect().toSeq
    assert(out == Seq("l07", "l02", "l00"))
    intercept[IllegalArgumentException] {
      Text.langIdScore(col("t"), Map.empty)
    }
  }

  test("tfidfTopTerms ranks rare terms above common ones (exact integer idf)") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "t")
    val out = Text.tfidfTopTerms(docs, "t", "doc_id", 2)
      .select("doc_id", "term", "score_e4", "rank")
      .as[(Long, String, Long, Int)].collect().toSet
    // df: a=1, b=2, c=1; N=2; idf_e4 = half_up((N+1)·1e4/(df+1)):
    // rare (df=1) → 15000, common (df=2) → 10000; score = tf · idf_e4
    assert(out == Set(
      (1L, "a", 30000L, 1),
      (1L, "b", 10000L, 2),
      (2L, "c", 15000L, 1),
      (2L, "b", 10000L, 2)))
  }

  test("tfidfTopTermsLog: sklearn-style smoothed log idf flavor") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "t")
    val out = Text.tfidfTopTermsLog(docs, "t", "doc_id", 2)
      .select("doc_id", "term", "score", "rank")
      .as[(Long, String, Double, Int)].collect().toSet
    val idfRare = math.log(3.0 / 2.0) + 1
    assert(out == Set(
      (1L, "a", 2 * idfRare, 1),
      (1L, "b", 1.0, 2),
      (2L, "c", idfRare, 1),
      (2L, "b", 1.0, 2)))
  }

  test("winnowFingerprints: shared long runs share a fingerprint; count bounded") {
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"aa bb $shared"),
      (2L, s"$shared zz yy"),
      (3L, "completely different words here entirely now")).toDF("doc_id", "t")
    val fps = Text.winnowFingerprints(docs, "t", "doc_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // winnowing guarantee: a shared run of >= w+k-1 = 6 tokens shares a fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    // selected set never exceeds the gram count (here 12 grams for doc 3's 6 tokens? 4 grams)
    assert(fps(3L).size <= 4)
  }

  test("winnowFingerprintsSalted equals the unsalted form on skewed multi-chunk docs") {
    val rnd = new scala.util.Random(7)
    // one hot document far larger than the chunk size, several small ones,
    // plus edge cases: shorter than k (no grams) and exactly one gram
    val hot = (1 to 500).map(_ => s"t${rnd.nextInt(40)}").mkString(" ")
    val docs = Seq(
      (1L, hot),
      (2L, (1 to 12).map(i => s"w$i").mkString(" ")),
      (3L, "aa bb"),
      (4L, "xx yy zz")).toDF("doc_id", "t")
    for (chunkSize <- Seq(4, 7, 64)) {
      val salted = Text.winnowFingerprintsSalted(docs, "t", "doc_id", chunkSize = chunkSize)
        .as[(Long, Long)].collect().toSet
      val plain = Text.winnowFingerprints(docs, "t", "doc_id")
        .as[(Long, Long)].collect().toSet
      assert(salted == plain, s"chunkSize=$chunkSize diverged")
    }
    // and the salted window partitions are genuinely bounded: with
    // chunkSize=4 the hot doc's 498 grams split across ~125 chunks
    val chunks = Text.winnowFingerprintsSalted(docs, "t", "doc_id", chunkSize = 4)
    assert(chunks.queryExecution.executedPlan.toString.contains("__chunk"))
  }

  test("boilerplateStats flags corpus-global grams, scores exact basis points") {
    val shared = "cookie banner accept all cookies now"
    val docs = ((1L to 12L).map(i => (i, s"$shared unique$i tail$i")) ++
      Seq((20L, "completely fresh words without repeats"), (21L, "aa bb")))
      .toDF("doc_id", "t")
    val out = Text.boilerplateStats(docs, "t", "doc_id",
        n = 3, dfThreshold = 10L, maxRatioE4 = 5000L)
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // each shared-prefix doc: 8 tokens -> 6 trigrams, 4 of which appear in
    // all 12 docs (df 12 > 10): 4/6 = 6667 bp half-up -> dropped
    assert(out(1L) == ((1L, 6L, 4L, 6667L, 0L)), out(1L).toString)
    // the fresh doc: 3 trigrams, none shared -> kept at 0 bp
    assert(out(20L) == ((20L, 3L, 0L, 0L, 1L)))
    // 2-token doc emits no grams and is absent, like explodeNgrams
    assert(!out.contains(21L) && out.size == 13)
  }

  test("boilerplate broadcast guard: oversized vocabulary loses the hint, result unchanged") {
    // adversarial corpus: EVERY gram clears dfThreshold (all docs share all
    // text), so the "tiny by construction" vocabulary is gram-count-sized —
    // the scenario where an unconditional broadcast hint is a driver OOM at
    // corpus scale. maxBroadcastVocab=0 forces the path a real oversized
    // vocabulary takes.
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = (1L to 15L).map(i => (i, shared)).toDF("doc_id", "t")
    val hinted = Text.boilerplateStats(docs, "t", "doc_id", n = 3, dfThreshold = 10L)
    val guarded = Text.boilerplateStats(docs, "t", "doc_id", n = 3, dfThreshold = 10L,
      maxBroadcastVocab = 0L)
    // the guard removes the broadcast HINT — the hazard is the hint
    // bypassing every size check; AQE may still broadcast at runtime when
    // the relation is actually small, which is exactly the desired split
    assert(hinted.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      hinted.queryExecution.optimizedPlan.toString.take(600))
    assert(!guarded.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      guarded.queryExecution.optimizedPlan.toString.take(600))
    val a = hinted.as[(Long, Long, Long, Long, Long)].collect().toSet
    val b = guarded.as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
    // every gram sits in all 15 docs: everything is boilerplate, all dropped
    assert(a.forall(_._5 == 0L), a.toString)
  }

  test("bpeishCount segments contractions, space-attached words, digit and punct runs") {
    // "don't stop 123 now!!" -> don | 't | " stop" | " 123" | " now" | !!
    val out = Seq(
      ("don't stop 123 now!!", 6L),
      ("hello world", 2L),
      ("a1b2", 4L),          // letter/digit alternation splits every boundary
      ("it's we're i'll", 6L))
      .toDF("t", "expected")
    val got = out.select(Text.bpeishCount(col("t")).cast("long").as("n"), col("expected"))
      .as[(Long, Long)].collect()
    got.foreach { case (n, e) => assert(n == e, s"got $n expected $e") }
  }

  test("bpeishCount Unicode classes: non-Latin runs count as letter/number pieces, cross-engine-pinned") {
    // regression pins from the round-7 cross-engine battery: these exact
    // counts were verified PIECE-identical between Java regex (this path)
    // and DuckDB's RE2 (the oracle path) before \p{L}/\p{N} replaced the
    // ASCII classes — under which every row here collapsed into far fewer
    // "other"-run pieces and understated multilingual token budgets
    val out = Seq(
      ("宇宙の始まりについて考える", 1L),            // one unbroken CJK letter run
      ("这是一个中文句子 包含 数字 42", 4L),
      ("Привет мир это тест", 4L),
      ("مرحبا بالعالم 123", 3L),
      ("٠١٢٣ arabic-indic digits", 5L),              // Arabic-Indic digits are \p{N}
      ("mixed 中文 and English タブ ١٢٣ done", 7L),
      ("emoji 😀🎉 test", 3L),                       // emoji stay "other" runs
      ("½ vulgar fraction No. Ⅷ roman", 7L),         // No + Nl categories are \p{N}
      ("ＡＢＣ ｆｕｌｌｗｉｄｔｈ １２３", 3L),      // fullwidth forms
      ("𝐀𝐁𝐂 supplementary math letters", 4L),        // supplementary-plane Lu
      ("नमस्ते दुनिया १२३", 11L),                    // Devanagari: Mn matras split letter runs
      ("ภาษาไทยไม่มีช่องว่าง 555", 10L))              // Thai: tone marks (Mn) split runs
      .toDF("t", "expected")
    val got = out.select(Text.bpeishCount(col("t")).cast("long").as("n"), col("expected"))
      .as[(Long, Long)].collect()
    got.foreach { case (n, e) => assert(n == e, s"got $n expected $e") }
  }

  test("redactPii replaces emails, phones and IPs with typed placeholders") {
    val out = Seq(
      (1L, "write to a.user+tag@sub-domain.example.org today",
        "write to <EMAIL> today"),
      (2L, "call 415-555-0042 or 650-555-1234",
        "call <PHONE> or <PHONE>"),
      (3L, "host 10.0.255.7 responded",
        "host <IP> responded"),
      (4L, "no pii here at all",
        "no pii here at all"),
      (5L, "mixed bob@x.io from 192.168.0.1 call 415-555-9999",
        "mixed <EMAIL> from <IP> call <PHONE>"))
      .toDF("id", "t", "expected")
    val got = out.select(Text.redactPii(col("t")).as("r"), col("expected"))
      .as[(String, String)].collect()
    got.foreach { case (r, e) => assert(r == e, s"got '$r' expected '$e'") }
  }

  test("PII patterns are disjoint: each counts only its own injected row") {
    // the q76 contract: a row carrying one PII kind must count 1 for that
    // pattern and 0 for the others (placeholders are unmatchable, so
    // redaction order cannot create phantom matches either)
    val rows = Seq(
      ("user77@mail.example.com", 1L, 0L, 0L),
      ("415-555-0042", 0L, 1L, 0L),
      ("10.37.0.203", 0L, 0L, 1L))
      .toDF("t", "e_mail", "e_phone", "e_ip")
    val got = rows.select(
        regexp_count(col("t"), lit(Text.PiiEmailPattern)).cast("long"),
        regexp_count(col("t"), lit(Text.PiiPhonePattern)).cast("long"),
        regexp_count(col("t"), lit(Text.PiiIpv4Pattern)).cast("long"),
        col("e_mail"), col("e_phone"), col("e_ip"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    got.foreach { case (m, p, i, em, ep, ei) =>
      assert((m, p, i) == ((em, ep, ei)))
    }
  }

  test("PiiIpv4Pattern: octet bounds and the documented embedded-quad residual") {
    // the round-7 advice: the unbounded quad matched 999.999.999.999 and
    // version strings wholesale. The bounded pattern's scope is now a
    // TESTED decision: out-of-range quads match nothing (no range-valid
    // 4-octet substring exists), boundary values 0/255 match, and a valid
    // quad EMBEDDED in a longer token still matches (no lookaround in the
    // POSIX-compatible subset — "v1.2.3.4" → "v<IP>" is the accepted
    // residual, as is the valid tail "56.1.1.1" inside "256.1.1.1")
    val cases = Seq(
      ("999.999.999.999", 0L, "999.999.999.999"),
      ("1.999.1.1", 0L, "1.999.1.1"),
      ("0.0.0.0 and 255.255.255.255", 2L, "<IP> and <IP>"),
      ("v1.2.3.4", 1L, "v<IP>"),
      ("256.1.1.1", 1L, "2<IP>"),
      ("10.37.0.203 fine", 1L, "<IP> fine"))
      .toDF("t", "e_n", "e_red")
    val got = cases.select(
        regexp_count(col("t"), lit(Text.PiiIpv4Pattern)).cast("long"),
        Text.redactPii(col("t")), col("e_n"), col("e_red"))
      .as[(Long, String, Long, String)].collect()
    got.foreach { case (n, red, en, ered) =>
      assert(n == en && red == ered, s"got ($n, '$red') expected ($en, '$ered')")
    }
  }

  test("fingerprint is a stable md5") {
    val out = Seq("hello").toDF("t").select(Text.fingerprint(col("t"))).as[String].head()
    assert(out == "5d41402abc4b2a76b9719d911017c592")
  }
}
