package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DSIR importance resampling: weight arithmetic against an independent
  * recompute, target-likeness ordering, the Gumbel table's shape, and
  * the selection contract (count, determinism, empty input).
  */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  private def targetDocs = Seq(
    (1L, "wiki facts wiki prose wiki cites"),
    (2L, "wiki notes wiki refs wiki links")).toDF("doc_id", "text")
  private def rawDocs = Seq(
    (10L, "crawl spam crawl ads crawl junk"),
    (11L, "crawl tags crawl menus crawl junk"),
    (12L, "wiki facts wiki prose wiki cites"), // target-like raw doc
    (13L, "mixed crawl and wiki words here")).toDF("doc_id", "text")

  test("trained weights match the add-one log-ratio formula recomputed independently") {
    val dim = 64
    val m = Dsir.trainImportance(targetDocs, rawDocs, "text", dim)
    // independent recompute: features = unigrams + bigrams, bucketed by
    // the shared 60-bit hash, counted per side via plain Scala
    def feats(texts: Seq[String]): Seq[Int] = texts.flatMap { t =>
      val toks = t.split(" ", -1).toSeq
      (toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")))
        .map(f => (Dedup.tokenHash64Jvm(f) % dim).toInt)
    }
    val tc = feats(targetDocs.as[(Long, String)].collect().map(_._2).toSeq)
    val rc = feats(rawDocs.as[(Long, String)].collect().map(_._2).toSeq)
    val tTot = tc.size + dim.toDouble
    val rTot = rc.size + dim.toDouble
    (0 until dim).foreach { b =>
      val expected = math.round((StrictMath.log(
        (tc.count(_ == b) + 1.0) / tTot) -
        StrictMath.log((rc.count(_ == b) + 1.0) / rTot)) * 10000.0)
      assert(m.weights(b) == expected, s"bucket $b")
    }
    assert(m.bias == 0L)
  }

  test("target-like raw docs score higher importance than off-target docs") {
    val m = Dsir.trainImportance(targetDocs, rawDocs, "text")
    val scores = rawDocs
      .select(col("doc_id"),
        element_at(QualityClassifier.featureSum(col("text"), m).getField("wsums"), 1).as("w"))
      .as[(Long, Long)].collect().toMap
    assert(scores(12L) > scores(13L) && scores(13L) > scores(10L),
      s"importance must order by target-likeness: $scores")
  }

  test("gumbel table: strictly increasing inverse CDF with the known median") {
    val g = Dsir.gumbelTableE4()
    assert(g.length == Dsir.GumbelResolution)
    assert(g.sliding(2).forall(p => p(0) < p(1)))
    // -ln(-ln(0.50005)) ~= 0.36661 -> 3666 at the 5000th midpoint
    assert(math.abs(g(5000) - 3666L) <= 1L, s"median=${g(5000)}")
  }

  test("resampling selects exactly n docs, deterministically, threshold == rank") {
    val m = Dsir.trainImportance(targetDocs, rawDocs, "text")
    val docs = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("crawl text sample "), col("id"),
        when(col("id") % 7 === 0, lit(" wiki facts wiki")).otherwise(lit("")))
        .as("text"))
    val r1 = Dsir.importanceResample(docs, "text", "doc_id", m, n = 10, salt = "s1")
    assert(r1.filter(col("selected") === 1L).count() == 10L)
    assert(r1.count() == 100L)
    val r2 = Dsir.importanceResample(
      docs.repartition(7), "text", "doc_id", m, n = 10, salt = "s1")
    assert(r1.orderBy("doc_id").collect().toSeq ==
      r2.orderBy("doc_id").collect().toSeq)
    // the threshold predicate equals rank selection (ties by id)
    val byRank = r1.orderBy(col("key_e4").desc, col("doc_id"))
      .limit(10).select("doc_id").as[Long].collect().toSet
    val byFlag = r1.filter(col("selected") === 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(byRank == byFlag)
    // a different salt draws a different sample (noise actually matters)
    val r3 = Dsir.importanceResample(docs, "text", "doc_id", m, n = 10, salt = "s2")
    assert(r3.filter(col("selected") === 1L)
      .select("doc_id").as[Long].collect().toSet != byFlag)
  }

  test("fewer docs than n selects all; empty input selects none") {
    val m = Dsir.trainImportance(targetDocs, rawDocs, "text")
    val small = Dsir.importanceResample(rawDocs, "text", "doc_id", m, 100, "s")
    assert(small.filter(col("selected") === 1L).count() == 4L)
    val empty = Dsir.importanceResample(
      rawDocs.filter(col("doc_id") < 0), "text", "doc_id", m, 5, "s")
    assert(empty.count() == 0L)
  }

  test("trainImportance at the default dim matches a plain recount; null texts count nowhere") {
    // the shared feature count under DSIR: target and raw share one
    // aggregation, told apart only by side — a null text adds no feature
    val dim = QualityClassifier.DefaultDim
    val target = ((0 until 12).map(i => (i.toLong, s"wiki w$i facts f${i % 4} wiki")) :+
      ((99L, null: String))).toDF("doc_id", "text")
    val raw = ((0 until 20).map(i => (i.toLong, s"crawl c${i % 6} junk w$i")) :+
      ((98L, null: String))).toDF("doc_id", "text")
    val m = Dsir.trainImportance(target, raw, "text")
    def counts(df: org.apache.spark.sql.DataFrame): Array[Long] = {
      val n = new Array[Long](dim)
      df.as[(Long, String)].collect().map(_._2).filter(_ != null).foreach { t =>
        val toks = t.split(" ", -1).toSeq
        (toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")))
          .foreach(f => n((Dedup.tokenHash64Jvm(f) % dim).toInt) += 1)
      }
      n
    }
    val (tc, rc) = (counts(target), counts(raw))
    val (tTot, rTot) = (tc.sum + dim.toDouble, rc.sum + dim.toDouble)
    val expected = (0 until dim).map { b =>
      math.round((StrictMath.log((tc(b) + 1.0) / tTot) -
        StrictMath.log((rc(b) + 1.0) / rTot)) * 10000.0)
    }
    assert(m.weights.toSeq == expected && m.bias == 0L)
  }
}
