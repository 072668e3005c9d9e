package graft.functions

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LangModelSpec extends SparkSpec {
  import spark.implicits._

  // corpus "a b a b": transitions (a,b)×2, (b,a)×1; c1: a=2, b=1; V=2.
  // Hand-quantized: lp(a,b) = round(−1e4·log2(3/4)) = 4150
  //                 lp(b,a) = round(−1e4·log2(2/3)) = 5850
  //                 miss(a) = round(−1e4·log2(1/4)) = 20000
  //                 miss(b) = round(−1e4·log2(1/3)) = 15850
  //                 lp0     = round(−1e4·log2(1/2)) = 10000
  private def trainToy(): String = {
    val dir = Files.createTempDirectory("lm").toString
    LangModel.train(Seq((1L, "a b a b")).toDF("doc_id", "text"), "text", s"$dir/lm")
    s"$dir/lm"
  }

  test("train persists the hand-computed integer log-prob artifact") {
    val p = trainToy()
    val big = spark.read.parquet(s"$p/bigrams")
      .as[(String, String, Long)].collect().toSet
    assert(big == Set(("a", "b", 4150L), ("b", "a", 5850L)))
    val uni = spark.read.parquet(s"$p/unigrams")
      .as[(String, Long)].collect().toSet
    assert(uni == Set(("a", 20000L), ("b", 15850L)))
    assert(spark.read.parquet(s"$p/defaults").head().getLong(0) == 10000L)
    assert(LangModel.readVocabSize(spark, p) == 2L)
  }

  test("scoreDocs resolves bigram-hit, known-w1 floor and global floor") {
    val p = trainToy()
    val docs = Seq(
      (1L, "a b a"), // (a,b)+(b,a) = 4150+5850 = 10000 over 2 -> 5000
      (2L, "a c"),   // unseen bigram, known w1 -> miss(a) = 20000
      (3L, "z z"),   // unknown w1 -> lp0 = 10000
      (4L, "a"),     // no transitions -> (0, 0)
      (5L, "")).toDF("doc_id", "text")
    val out = LangModel.scoreDocs(docs, "text", "doc_id", p)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 5000L), (2L, 1L, 20000L), (3L, 1L, 10000L),
      (4L, 0L, 0L), (5L, 0L, 0L)))
  }

  test("fluent text scores below disfluent text under the reference corpus") {
    val dir = Files.createTempDirectory("lm2").toString
    val ref = (0L until 50L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    LangModel.train(ref, "text", s"$dir/lm")
    val out = LangModel.scoreDocs(Seq(
        (1L, "the quick brown fox"),
        (2L, "fox the dog quick brown")).toDF("doc_id", "text"),
      "text", "doc_id", s"$dir/lm")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(out(0)._3 < out(1)._3,
      s"in-distribution text must score lower: $out")
  }

  test("scoring is replay- and partitioning-stable") {
    val p = trainToy()
    val docs = (0L until 40L).map(i => (i, s"a b a c b t$i")).toDF("doc_id", "text")
    val a = LangModel.scoreDocs(docs, "text", "doc_id", p)
      .orderBy("doc_id").collect().toSeq
    val b = LangModel.scoreDocs(docs.repartition(7), "text", "doc_id", p)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("install + appends + refresh equals a full retrain, byte for byte") {
    val dir = Files.createTempDirectory("lm_inc").toString
    val half1 = (0L until 40L).map(i => (i, s"the quick fox t$i runs the maze"))
      .toDF("doc_id", "text")
    val half2 = (40L until 80L).map(i => (i, s"a lazy dog d$i naps in a sunbeam"))
      .toDF("doc_id", "text")
    // incremental: install on half1, append half2, refresh
    LangModel.installCountIndex(half1, "text", s"$dir/inc")
    assert(LangModel.appendCounts(half2, s"$dir/inc", generation = 1L))
    LangModel.refreshModel(spark, s"$dir/inc")
    // full retrain on the union
    LangModel.train(half1.unionByName(half2), "text", s"$dir/full")
    val incModel = LangModel.modelRoot(s"$dir/inc")
    for (t <- Seq("bigrams", "unigrams", "defaults")) {
      val a = spark.read.parquet(s"$incModel/$t").collect().map(_.toSeq).toSet
      val b = spark.read.parquet(s"$dir/full/$t").collect().map(_.toSeq).toSet
      assert(a == b, s"table $t diverged")
    }
    assert(LangModel.readVocabSize(spark, incModel) ==
      LangModel.readVocabSize(spark, s"$dir/full"))
    // and the served scores agree on a probe batch
    val probe = Seq((1L, "the quick fox runs"), (2L, "unknown words only zz"))
      .toDF("doc_id", "text")
    assert(LangModel.scoreDocs(probe, "text", "doc_id", incModel)
        .orderBy("doc_id").collect().toSeq ==
      LangModel.scoreDocs(probe, "text", "doc_id", s"$dir/full")
        .orderBy("doc_id").collect().toSeq)
  }

  test("count-index protocol: replayed appends no-op, fold preserves the refreshed model") {
    val dir = Files.createTempDirectory("lm_inc2").toString
    val p = s"$dir/inc"
    LangModel.installCountIndex(
      Seq((1L, "a b a b c")).toDF("doc_id", "text"), "text", p)
    val batch = Seq((2L, "b c b c a")).toDF("doc_id", "text")
    assert(LangModel.appendCounts(batch, p, 1L))
    assert(!LangModel.appendCounts(batch, p, 1L), "replay must no-op")
    LangModel.refreshModel(spark, p)
    val before = spark.read.parquet(s"${LangModel.modelRoot(p)}/bigrams")
      .collect().map(_.toSeq).toSet
    LangModel.compactCountIndex(spark, p, upToGen = 1L)
    LangModel.refreshModel(spark, p)
    val after = spark.read.parquet(s"${LangModel.modelRoot(p)}/bigrams")
      .collect().map(_.toSeq).toSet
    assert(before == after, "fold must not change the derived model")
    assert(LangModel.countIndexReadable(spark, p))
    assert(!LangModel.countIndexReadable(spark, s"$dir/nowhere"))
  }

  test("refresh restores a count generation a crashed fold left parked") {
    val dir = Files.createTempDirectory("lm_park").toString
    def grown(p: String): String = {
      LangModel.installCountIndex(Seq((1L, "a b a b c")).toDF("doc_id", "text"), "text", p)
      assert(LangModel.appendCounts(Seq((2L, "b c b c a")).toDF("doc_id", "text"), p, 1L))
      assert(LangModel.appendCounts(Seq((3L, "c d c d a")).toDF("doc_id", "text"), p, 2L))
      p
    }
    val clean = grown(s"$dir/clean")
    LangModel.refreshModel(spark, clean)
    // the state between compactGenerational's two renames: the last
    // generation parked at <counts>__old/batch=2, its live copy gone
    val parked = grown(s"$dir/parked")
    val counts = new org.apache.hadoop.fs.Path(s"$parked/counts")
    val trash = new org.apache.hadoop.fs.Path(s"$parked/counts__old")
    val fs = counts.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(trash)
    assert(fs.rename(new org.apache.hadoop.fs.Path(counts, "batch=2"),
      new org.apache.hadoop.fs.Path(trash, "batch=2")))
    LangModel.refreshModel(spark, parked)
    for (t <- Seq("bigrams", "unigrams", "defaults")) {
      val a = spark.read.parquet(s"${LangModel.modelRoot(parked)}/$t").collect().map(_.toSeq).toSet
      val b = spark.read.parquet(s"${LangModel.modelRoot(clean)}/$t").collect().map(_.toSeq).toSet
      assert(a == b, s"table $t differs from a clean refresh")
    }
  }

  test("version check refuses a future-scheme model") {
    val p = trainToy()
    IndexProtocol.writeLayoutPayload(spark, p, "v=2,lm=99,n=2")
    val e = intercept[IllegalArgumentException] {
      LangModel.readVocabSize(spark, p)
    }
    assert(e.getMessage.contains("retrain"))
  }

  test("a pre-order (scheme v1) artifact is rejected as malformed, not misread") {
    val p = trainToy()
    IndexProtocol.writeLayoutPayload(spark, p, "v=2,lm=1")
    intercept[IllegalStateException] { LangModel.readVocabSize(spark, p) }
  }

  // corpus "a b c a b c": order-3 transitions ("a b")→c ×2, ("b c")→a ×1,
  // ("c a")→b ×1; context margins "a b"=2, "b c"=1, "c a"=1; V=3.
  // Hand-quantized: lp(a b, c) = round(−1e4·log2(3/5)) = 7370
  //                 lp(b c, a) = lp(c a, b) = round(−1e4·log2(2/4)) = 10000
  //                 miss(a b)  = round(−1e4·log2(1/5)) = 23219
  //                 miss(b c)  = miss(c a) = 20000
  //                 lp0        = round(−1e4·log2(1/3)) = 15850
  private def trainToy3(): String = {
    val dir = Files.createTempDirectory("lm3").toString
    LangModel.train(
      Seq((1L, "a b c a b c")).toDF("doc_id", "text"), "text", s"$dir/lm", order = 3)
    s"$dir/lm"
  }

  test("order-3 train persists the hand-computed joined-context artifact") {
    val p = trainToy3()
    val big = spark.read.parquet(s"$p/bigrams")
      .as[(String, String, Long)].collect().toSet
    assert(big == Set(
      ("a b", "c", 7370L), ("b c", "a", 10000L), ("c a", "b", 10000L)))
    val uni = spark.read.parquet(s"$p/unigrams")
      .as[(String, Long)].collect().toSet
    assert(uni == Set(("a b", 23219L), ("b c", 20000L), ("c a", 20000L)))
    assert(spark.read.parquet(s"$p/defaults").head().getLong(0) == 15850L)
    assert(LangModel.readModelMeta(spark, p) == ((3L, 3)))
  }

  test("order-3 scoring resolves hit, known-context floor and global floor from the artifact") {
    val p = trainToy3()
    val docs = Seq(
      (1L, "a b c"),   // hit: lp(a b, c) = 7370
      (2L, "a b z"),   // unseen next token, known context -> miss(a b) = 23219
      (3L, "z z z"),   // unknown context -> lp0 = 15850
      (4L, "a b"),     // shorter than the order -> (0, 0)
      (5L, "")).toDF("doc_id", "text")
    val out = LangModel.scoreDocs(docs, "text", "doc_id", p)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 7370L), (2L, 1L, 23219L), (3L, 1L, 15850L),
      (4L, 0L, 0L), (5L, 0L, 0L)))
  }

  test("order-5 (the CCNet order): artifact round-trips and scoring ladders resolve") {
    val dir = Files.createTempDirectory("lm5").toString
    val ref = (0L until 30L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    LangModel.train(ref, "text", s"$dir/lm", order = 5)
    assert(LangModel.readModelMeta(spark, s"$dir/lm")._2 == 5)
    val out = LangModel.scoreDocs(Seq(
        (1L, "the quick brown fox jumps"),   // trained 5-gram: low lp
        (2L, "the quick brown fox sleeps"),  // known 4-token context, unseen w
        (3L, "totally novel words here now"),// unknown context -> global floor
        (4L, "the quick brown fox")          // shorter than the order -> (0, 0)
      ).toDF("doc_id", "text"), "text", "doc_id", s"$dir/lm")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(out(0)._2 == 1L && out(1)._2 == 1L && out(2)._2 == 1L)
    assert(out(0)._3 < out(1)._3, "a trained 5-gram must beat the miss floor")
    assert(out(3) == ((4L, 0L, 0L)))
  }

  test("order-3 incremental install + append + refresh equals an order-3 full retrain") {
    val dir = Files.createTempDirectory("lm3_inc").toString
    val half1 = (0L until 20L).map(i => (i, s"the quick fox t$i runs the maze"))
      .toDF("doc_id", "text")
    val half2 = (20L until 40L).map(i => (i, s"a lazy dog d$i naps in a sunbeam"))
      .toDF("doc_id", "text")
    LangModel.installCountIndex(half1, "text", s"$dir/inc", order = 3)
    assert(LangModel.appendCounts(half2, s"$dir/inc", generation = 1L))
    LangModel.refreshModel(spark, s"$dir/inc")
    LangModel.train(half1.unionByName(half2), "text", s"$dir/full", order = 3)
    val incModel = LangModel.modelRoot(s"$dir/inc")
    for (t <- Seq("bigrams", "unigrams", "defaults")) {
      val a = spark.read.parquet(s"$incModel/$t").collect().map(_.toSeq).toSet
      val b = spark.read.parquet(s"$dir/full/$t").collect().map(_.toSeq).toSet
      assert(a == b, s"table $t diverged")
    }
    assert(LangModel.readModelMeta(spark, incModel) ==
      LangModel.readModelMeta(spark, s"$dir/full"))
  }
}
