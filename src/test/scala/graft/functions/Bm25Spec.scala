package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BM25 index + retrieval: artifact values re-derived exactly (BigInt
  * half-up arithmetic, StrictMath idf), serving scores cross-checked
  * against an independent in-test scorer, tiebreaks and edge cases pinned.
  */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private val root = s"/tmp/graft-test-bm25-${java.util.UUID.randomUUID()}"

  // d0..d3: hand-sized corpus; d4 duplicates d2 to force a score tie
  private val corpus = Seq(
    (0L, "a b a c"),
    (1L, "a b b d"),
    (2L, "c c c c c"),
    (3L, "a d"),
    (4L, "c c c c c"))

  private def docs = corpus.toDF("doc_id", "text")

  private lazy val indexPath: String = {
    val p = s"$root/idx"
    Bm25.buildIndex(docs, "text", "doc_id", p)
    p
  }

  // ---- independent re-derivation (BigInt, half-up — mirrors the scaladoc
  // formulas, NOT the engine code) ----
  private val tfMap: Map[(String, Long), Long] = corpus.flatMap { case (id, t) =>
    t.split(" ").groupBy(identity).map { case (w, g) => (w, id) -> g.length.toLong }
  }.toMap
  private val dlMap: Map[Long, Long] = corpus.map { case (id, t) =>
    id -> t.split(" ").length.toLong
  }.toMap
  private val bigN = corpus.size.toLong
  private val bigL = dlMap.values.sum
  private val dfMap: Map[String, Long] =
    tfMap.keys.groupBy(_._1).map { case (w, g) => w -> g.size.toLong }

  private def divHalfUp(p: BigInt, q: BigInt): BigInt = {
    val two = BigInt(2)
    val num = p * two + q
    val den = q * two
    // floor division (BigInt / truncates toward zero; inputs here are >= 0)
    num / den
  }
  private def kE6(dl: Long): Long =
    divHalfUp(BigInt(3 * bigL + 9 * dl * bigN) * 1000000L, BigInt(10 * bigL)).toLong
  private def idfE6(w: String): Long = {
    val df = dfMap(w)
    Math.round(StrictMath.log(1.0 + (bigN - df + 0.5) / (df + 0.5)) * 1e6)
  }
  private def contribution(w: String, id: Long): Long = {
    val tf = tfMap((w, id))
    divHalfUp(BigInt(idfE6(w)) * 22 * tf * 100000L,
      BigInt(tf) * 1000000L + kE6(dlMap(id))).toLong
  }
  private def expectedScore(terms: Seq[String], id: Long): Long =
    terms.flatMap(w => tfMap.get((w, id)).map(_ => contribution(w, id))).sum

  test("buildIndex persists exact df, dl, k_e6 and quantized idf") {
    val terms = spark.read.parquet(s"$indexPath/terms")
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(terms.keySet == dfMap.keySet)
    dfMap.foreach { case (w, df) =>
      assert(terms(w)._1 == df, s"df($w)")
      assert(terms(w)._2 == idfE6(w), s"idf_e6($w)")
    }
    val dn = spark.read.parquet(s"$indexPath/docs")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    dlMap.foreach { case (id, dl) =>
      assert(dn(id) == ((dl, kE6(dl))), s"docs($id)")
    }
    // one fully hand-pinned anchor so the re-derivation itself is checked:
    // df(a)=3, N=5 -> idf = ln(1 + 2.5/3.5) = ln(12/7) = 0.538997 -> 538997
    assert(terms("a")._2 == 538997L)
    // dl=4: k_e6 = ((3*20 + 9*4*5)*1e6) half-up / (10*20) = 240e6/200 = 1200000
    assert(dn(0L)._2 == 1200000L)
    assert(Bm25.readMeta(spark, indexPath) == ((bigN, bigL)))
  }

  test("search scores match the independent exact scorer and rank deterministically") {
    val probes = Seq((100L, "a"), (100L, "c")).toDF("query_id", "term")
    val got = Bm25.search(spark, probes, indexPath, k = 10)
      .as[(Long, Int, Long, Long)].collect().toSeq
    val want = Seq(0L, 1L, 2L, 3L, 4L)
      .map(id => id -> expectedScore(Seq("a", "c"), id))
      .filter(_._2 > 0)
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex
      .map { case ((id, s), i) => (100L, i + 1, id, s) }
    assert(got == want)
    // the engineered tie: d2 and d4 are identical docs, so equal scores —
    // doc_id ascending must decide, and both must actually be present
    val tied = got.filter(r => r._3 == 2L || r._3 == 4L)
    assert(tied.size == 2 && tied.map(_._4).distinct.size == 1,
      s"expected a two-way tie, got $tied")
    assert(tied.sortBy(_._2).map(_._3) == Seq(2L, 4L), "ties must break by doc_id")
  }

  test("k truncates, absent terms contribute nothing, unmatched queries vanish") {
    val probes = Seq(
      (1L, "c"), (1L, "zzz_not_indexed"), // zzz must not perturb c's ranking
      (2L, "qqq_unmatched")               // query 2 matches nothing at all
    ).toDF("query_id", "term")
    val got = Bm25.search(spark, probes, indexPath, k = 2)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got.map(_._1).distinct == Seq(1L), "unmatched query must yield no rows")
    assert(got.size == 2, "k=2 must truncate the c-matching docs to two")
    assert(got.map(_._3) == Seq(2L, 4L), "top c docs are the all-c twins, id order")
    got.foreach(r => assert(r._4 == expectedScore(Seq("c"), r._3)))
  }

  test("pseudoQueries picks per-doc top terms by tf desc then term asc") {
    val q = Bm25.pseudoQueries(docs, "text", "doc_id", nQueries = 2, termsPerQuery = 2)
      .orderBy("query_id", "term")
      .as[(Long, String)].collect().toSeq
    // d0 "a b a c": tf a=2 > b=c=1, term tiebreak -> (a, b)
    // d1 "a b b d": tf b=2 > a=d=1, term tiebreak -> (a, b)
    assert(q == Seq((0L, "a"), (0L, "b"), (1L, "a"), (1L, "b")))
  }

  test("incremental: install + append + refresh equals the one-shot build on the union") {
    val inc = s"$root/inc"
    Bm25.installIndex(docs.filter(col("doc_id") < 2), "text", "doc_id", inc)
    assert(Bm25.appendDocs(docs.filter(col("doc_id") >= 2), inc, generation = 1L))
    assert(!Bm25.appendDocs(docs.filter(col("doc_id") >= 2), inc, generation = 1L),
      "a replayed generation must be a no-op")
    Bm25.refreshIndex(spark, inc)
    def tbl(p: String, name: String) =
      spark.read.parquet(s"$p/$name").collect().map(_.toSeq).toSet
    Seq("postings", "docs", "terms").foreach { t =>
      assert(tbl(Bm25.indexRoot(inc), t) == tbl(indexPath, t), s"$t differs")
    }
    assert(Bm25.readMeta(spark, Bm25.indexRoot(inc)) == ((bigN, bigL)))
    // folding generations changes nothing the refresh can observe
    Bm25.compactFacts(spark, inc, upToGen = 1L)
    Bm25.refreshIndex(spark, inc)
    Seq("postings", "docs", "terms").foreach { t =>
      assert(tbl(Bm25.indexRoot(inc), t) == tbl(indexPath, t), s"$t differs after compact")
    }
    // and the serve path agrees end-to-end
    val probes = Seq((100L, "a"), (100L, "c")).toDF("query_id", "term")
    def ranked(p: String) = Bm25.search(spark, probes, p, k = 10)
      .as[(Long, Int, Long, Long)].collect().toSeq.sorted
    assert(ranked(Bm25.indexRoot(inc)) == ranked(indexPath))
  }

  test("refresh restores a fact generation a crashed fold left parked") {
    def grown(p: String): String = {
      Bm25.installIndex(docs.filter(col("doc_id") < 2), "text", "doc_id", p)
      assert(Bm25.appendDocs(docs.filter(col("doc_id").between(2, 3)), p, generation = 1L))
      assert(Bm25.appendDocs(docs.filter(col("doc_id") >= 4), p, generation = 2L))
      p
    }
    val clean = grown(s"$root/park_clean")
    Bm25.refreshIndex(spark, clean)
    // the state between compactGenerational's two renames: the last
    // generation parked at <facts>__old/batch=2, its live copy gone
    val parked = grown(s"$root/park")
    val facts = new org.apache.hadoop.fs.Path(s"$parked/facts")
    val trash = new org.apache.hadoop.fs.Path(s"$parked/facts__old")
    val fs = facts.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(trash)
    assert(fs.rename(new org.apache.hadoop.fs.Path(facts, "batch=2"),
      new org.apache.hadoop.fs.Path(trash, "batch=2")))
    Bm25.refreshIndex(spark, parked)
    def tbl(p: String, name: String) =
      spark.read.parquet(s"${Bm25.indexRoot(p)}/$name").collect().map(_.toSeq).toSet
    Seq("postings", "docs", "terms").foreach { t =>
      assert(tbl(parked, t) == tbl(clean, t), s"$t differs from a clean refresh")
    }
    assert(Bm25.readMeta(spark, Bm25.indexRoot(parked)) == ((bigN, bigL)))
  }

  test("hardNegatives: self and unembedded docs excluded BEFORE the top-n cut") {
    // unit-ish vectors with exact cosines against d0's [1,0]:
    // d1 -> 0.6, d2 -> -1.0, d4 -> 1.0; d3 has NO vector (the partial
    // embedding-coverage shape — judgeability must restrict candidacy
    // before ranking, not truncate results after it)
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.6f, 0.8f)), (2L, Seq(-1.0f, 0.0f)),
      (4L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val probes = Seq((0L, "a"), (0L, "c")).toDF("query_id", "term")
    val got = Bm25.hardNegatives(spark, probes, indexPath, emb, n = 3)
      .as[(Long, Int, Long, Long, Double, Long)].collect().toSeq.sortBy(_._2)
    val sims = Map(1L -> 0.6, 2L -> -1.0, 4L -> 1.0)
    val want = Seq(1L, 2L, 4L) // the embedded non-self candidates
      .map(id => id -> expectedScore(Seq("a", "c"), id))
      .filter(_._2 > 0)
      .sortBy { case (id, s) => (-s, id) }
      .take(3).zipWithIndex
      .map { case ((id, s), i) =>
        (0L, i + 1, id, s, sims(id), if (sims(id) <= 0.0) 1L else 0L) }
    assert(got == want)
    assert(!got.exists(_._3 == 0L), "the query document itself is never a negative")
    assert(!got.exists(_._3 == 3L), "an unembedded doc is never a candidate")
    assert(got.map(_._2) == (1 to got.size),
      "ranks stay contiguous: exclusions happen before the cut")
    assert(got.exists(_._6 == 1L) && got.exists(_._6 == 0L),
      s"fixture should produce both hard and easy candidates, got $got")
  }

  test("hardNegatives ranks narrow rows: no vector column enters the Window") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.6f, 0.8f)), (2L, Seq(-1.0f, 0.0f)),
      (4L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val probes = Seq((0L, "a"), (0L, "c")).toDF("query_id", "term")
    val plan = Bm25.hardNegatives(spark, probes, indexPath, emb, n = 3)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "top-n must rank through a Window")
    windows.foreach { w =>
      val carried = w.child.output.map(_.name)
        .filter(n => n.contains("embedding") || n.contains("query_vec"))
      assert(carried.isEmpty,
        s"vectors must not ride through the rank exchange, found $carried")
    }
  }

  test("duplicate probe rows score as a set (BM25 treats query terms as a set)") {
    val once = Seq((1L, "a"), (1L, "c")).toDF("query_id", "term")
    val duped = Seq((1L, "a"), (1L, "a"), (1L, "c"), (1L, "a")).toDF("query_id", "term")
    def ranked(p: org.apache.spark.sql.DataFrame) =
      Bm25.search(spark, p, indexPath, k = 10)
        .as[(Long, Int, Long, Long)].collect().toSeq.sorted
    assert(ranked(duped) == ranked(once),
      "a duplicated term must not double its contribution")
  }

  test("searchBucketed: identical results, bucket-pruned scan, no postings Exchange") {
    val tbl = graft.sources.Bucketing.ensureBm25Postings(
      spark, s"$indexPath/postings", s"$root/bucketed", "bm25spec", buckets = 8)
    try {
      val probes = Seq((100L, "a"), (100L, "c")).toDF("query_id", "term")
      val plain = Bm25.search(spark, probes, indexPath, k = 10)
        .as[(Long, Int, Long, Long)].collect().toSeq.sorted
      val bucketed = Bm25.searchBucketed(spark, probes, tbl, indexPath, k = 10)
      assert(bucketed.as[(Long, Int, Long, Long)].collect().toSeq.sorted == plain,
        "the layout is the only variable — rankings and integers must match")
      val plan = bucketed.queryExecution.executedPlan.toString
      // the probe terms' literal IN filter prunes buckets at the scan
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, s"expected a bucket-pruned scan:\n${plan.take(1200)}")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"two probe terms must not read all ${sel.get.group(2)} buckets")
      // the postings relation reaches its join unshuffled: every Exchange
      // in the serve plan sits above the candidate aggregation, none
      // carries the raw (term, doc_id, tf) posting rows
      val postingsExchange = "Exchange[^\\n]*\\n[^\\n]*Scan parquet[^\\n]*bm25_postings".r
      assert(postingsExchange.findFirstIn(plan).isEmpty,
        s"postings must never shuffle:\n${plan.take(1200)}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("searchBucketed refuses a corpus-scale probe relation instead of collecting it") {
    // the serve path's driver collect is bounded by contract; a violation
    // must fail loudly BEFORE materializing the full term set (r15 advice)
    val tbl = graft.sources.Bucketing.ensureBm25Postings(
      spark, s"$indexPath/postings", s"$root/bucketed_cap", "bm25speccap", buckets = 8)
    try {
      val oversized = spark.range(Bm25.MaxProbeTerms + 1L)
        .selectExpr("id AS query_id", "CONCAT('t', id) AS term")
      val e = intercept[IllegalArgumentException](
        Bm25.searchBucketed(spark, oversized, tbl, indexPath, k = 10))
      assert(e.getMessage.contains("probe batch"), e.getMessage)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("searchBucketed evaluates each probe row once while constructing the search") {
    val tbl = graft.sources.Bucketing.ensureBm25Postings(
      spark, s"$indexPath/postings", s"$root/bucketed_once", "bm25speconce", buckets = 8)
    try {
      // every evaluation of a probe row's term bumps the accumulator; the
      // term list and the broadcast pairs must come from ONE collect
      val evals = spark.sparkContext.longAccumulator("probe_row_evals")
      val counted = udf { (t: String) => evals.add(1L); t }.asNondeterministic()
      val probes = spark.range(6).select(
        (col("id") % 2 + 100L).as("query_id"),
        counted(when(col("id") % 3 === 0, lit("a")).otherwise(lit("c"))).as("term"))
      val bucketed = Bm25.searchBucketed(spark, probes, tbl, indexPath, k = 10)
      assert(evals.value == 6L, s"6 probe rows evaluated ${evals.value} times")
      val plain = Bm25.search(spark,
        Seq((100L, "a"), (100L, "c"), (101L, "a"), (101L, "c")).toDF("query_id", "term"),
        indexPath, k = 10).as[(Long, Int, Long, Long)].collect().toSeq.sorted
      assert(bucketed.as[(Long, Int, Long, Long)].collect().toSeq.sorted == plain)
      assert(evals.value == 6L, "running the search must not re-read the probe relation")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("contaminationReport: shingle-grade sweep flags the near-verbatim copy only") {
    // ten eval docs with distinct bigram structure (a realistic suite
    // size — a 2-doc suite's ln(2) idf cannot clear any threshold);
    // train = one light-edit copy of e0 (near-verbatim — must flag), one
    // doc sharing one incidental bigram (must not flag), one disjoint
    // doc (no row)
    val evals = (0L until 10L).map { i =>
      (i, (0 until 8).map(j => s"w${i}x$j").mkString(" "))
    }.toDF("doc_id", "text")
    val p = s"$root/evalidx"
    Bm25.buildIndex(evals, "text", "doc_id", p, ngram = 2)
    assert(Bm25.indexNgram(spark, p) == 2, "term grade travels in the layout")
    val train = Seq(
      (10L, "edited " + (0 until 8).map(j => s"w0x$j").mkString(" ")),
      (11L, "w0x0 w0x1 something else entirely unrelated words here"),
      (12L, "completely different vocabulary nothing shared at all")).toDF("doc_id", "text")
    val got = Bm25.contaminationReport(train, "text", "doc_id", p)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq(10L, 11L), s"disjoint doc yields no row: $got")
    val copy = got.head
    assert(copy._2 == 0L, "the copy's top-1 must be its source")
    assert(copy._5 == 1L, s"near-verbatim copy must flag, got $copy")
    assert(got(1)._5 == 0L, s"incidental overlap must not flag, got ${got(1)}")
    // norm arithmetic pinned: norm_e6 = halfUp(score_e6 / n_shingles)
    got.foreach { r =>
      val nSh = (if (r._1 == 10L) 9L else 8L) - 1L
      val want = (BigInt(r._3) * 2 + nSh) / (nSh * 2)
      assert(BigInt(r._4) == want, s"norm_e6 mismatch for $r")
    }
  }

  test("calibrateContaminationThreshold lands the suggestion between the measured populations") {
    // engineered corpus, the q124 construction: a ten-doc suite, clean =
    // incidental-overlap + disjoint docs, leaked = light-edit copies
    val evals = (0L until 10L).map { i =>
      (i, (0 until 8).map(j => s"c${i}x$j").mkString(" "))
    }.toDF("doc_id", "text")
    val p = s"$root/calidx"
    Bm25.buildIndex(evals, "text", "doc_id", p, ngram = 2)
    val clean = Seq(
      (100L, "c0x0 c0x1 something else entirely unrelated words here"),
      (101L, "c3x2 c3x3 also mostly novel content in this document"),
      (102L, "completely different vocabulary nothing shared at all")).toDF("doc_id", "text")
    val leaked = Seq(
      (200L, "edited " + (0 until 8).map(j => s"c0x$j").mkString(" ")),
      (201L, "copy " + (0 until 8).map(j => s"c5x$j").mkString(" "))).toDF("doc_id", "text")
    val r = Bm25.calibrateContaminationThreshold(clean, leaked, "text", "doc_id", p)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    val (cleanN, cleanScored, cleanMax, leakedN, leakedScored, leakedMin, sep, sug) = r
    assert(cleanN == 3L && leakedN == 2L)
    assert(cleanScored == 2L, "the disjoint clean doc yields no row and must not distort the max")
    assert(leakedScored == 2L, "every engineered leak must score")
    assert(sep == 1L, s"populations must separate, got $r")
    assert(cleanMax < sug && sug < leakedMin,
      s"auto-threshold must land inside the gap: $cleanMax < $sug < $leakedMin")
    // the shipped default sits inside this corpus's gap too — the recipe
    // that chose it is now executable
    assert(cleanMax < Bm25.ContaminationThresholdE6 &&
      Bm25.ContaminationThresholdE6 < leakedMin)
    // an unscored "leak" (no shingle overlap = not actually a leak) must
    // kill the separation flag, not silently shrink the population
    val notALeak = Seq((300L, "zero overlap with any suite document at all")).toDF("doc_id", "text")
    val r2 = Bm25.calibrateContaminationThreshold(clean, leaked.unionByName(notALeak),
      "text", "doc_id", p)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(r2._4 == 3L && r2._5 == 2L && r2._7 == 0L,
      s"an unscored leak must flip separated to 0, got $r2")
  }

  test("build refuses an empty corpus; search refuses k < 1; meta guards version") {
    val e = intercept[IllegalArgumentException] {
      Bm25.buildIndex(docs.filter(col("doc_id") < 0), "text", "doc_id", s"$root/empty")
    }
    assert(e.getMessage.contains("non-empty corpus"))
    val k = intercept[IllegalArgumentException] {
      Bm25.search(spark, Seq((1L, "a")).toDF("query_id", "term"), indexPath, k = 0)
    }
    assert(k.getMessage.contains("k must be >= 1"))
    val alien = s"$root/alien"
    IndexProtocol.fileSystem(spark, alien).mkdirs(new org.apache.hadoop.fs.Path(alien))
    IndexProtocol.writeLayoutPayload(spark, alien, "n=1,l=1,bm=999")
    val v = intercept[IllegalArgumentException](Bm25.readMeta(spark, alien))
    assert(v.getMessage.contains("not scheme"))
  }
}
