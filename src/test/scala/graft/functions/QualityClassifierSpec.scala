package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val model = QualityClassifier.Model(
    QualityClassifier.synthesizeWeights(QualityClassifier.DefaultDim), bias = 0L)

  /** Independent in-test recomputation: Spark-SQL hash formula (the shared
    * md5 contract) + the weight formula, per feature — the oracle's path,
    * executed here over literal columns rather than the scorer object.
    */
  private def expectedScore(text: String): (Long, Long) = {
    val toks = text.split(" ", -1).toSeq
    val feats = toks ++ toks.zip(toks.drop(1)).map { case (a, b) => s"$a $b" }
    val dim = model.dim
    val wsum = feats.map { f =>
      val h = spark.sql(
        s"SELECT CAST(conv(substring(md5('${f.replace("'", "''")}'), 1, 15), 16, 10) AS LONG)")
        .head().getLong(0)
      val j = h % dim
      (j * QualityClassifier.WeightMultiplier) % QualityClassifier.WeightModulus -
        QualityClassifier.WeightOffset
    }.sum
    (feats.size.toLong, wsum)
  }

  test("featureSum matches the hash+weight formula on a battery") {
    val battery = Seq("alpha beta gamma", "one", "", "a  b", "x y x y x")
    val out = battery.zipWithIndex.map(_.swap).toDF("id", "text")
      .select(col("id"), QualityClassifier.featureSum(col("text"), model).as("s"))
      .select(col("id"), col("s.n_feats"), element_at(col("s.wsums"), 1))
      .orderBy("id").as[(Int, Long, Long)].collect()
    for ((text, i) <- battery.zipWithIndex) {
      val (nf, ws) = expectedScore(text)
      assert(out(i)._2 == nf, s"n_feats for '$text'")
      assert(out(i)._3 == ws, s"wsum for '$text'")
    }
  }

  test("unigram+bigram feature count: 2n-1, empty-token contract included") {
    val out = Seq((1, "a b c"), (2, ""), (3, "a  b"))
      .toDF("id", "text")
      .select(col("id"), QualityClassifier.featureSum(col("text"), model).as("s"))
      .select(col("id"), col("s.n_feats")).orderBy("id")
      .as[(Int, Long)].collect().toMap
    assert(out(1) == 5L) // 3 unigrams + 2 bigrams
    assert(out(2) == 1L) // [""] -> 1 unigram, 0 bigrams
    assert(out(3) == 5L) // "a","","b" -> 3 + 2 (double space yields empty token)
  }

  test("classify thresholds at minScoreE4 and scores are replay-stable") {
    val docs = (0L until 64L).map(i => (i, s"doc $i token${i % 7} " * (1 + (i % 5).toInt)))
      .toDF("doc_id", "text")
    val a = QualityClassifier.classify(docs, "text", model).orderBy("doc_id").collect()
    val b = QualityClassifier.classify(docs.repartition(5), "text", model)
      .orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq, "partitioning must not change scores")
    assert(a.forall(r => (r.getAs[Long]("score_e4") >= 0L) ==
      (r.getAs[String]("label") == "keep")))
    // both classes occur (symmetric weights -> mean near zero)
    assert(a.map(_.getAs[String]("label")).distinct.length == 2)
  }

  test("score_e4 is the half-up fixed-point mean incl. bias") {
    val m = QualityClassifier.Model(Array.fill(16)(3L), bias = 5L)
    // every bucket weighs 3: text "a b" -> 3 feats -> wsum 9, score =
    // half-up((9+5)*10000 / 3) = half-up(46666.67) = 46667
    val s = Seq((1, "a b")).toDF("id", "text")
      .select(QualityClassifier.scoreE4(col("text"), m).as("s"))
      .head().getLong(0)
    assert(s == 46667L)
  }

  test("negative scores round half-up consistently (floor-division contract)") {
    val m = QualityClassifier.Model(Array.fill(16)(-1L), bias = 0L)
    // "a b c" -> 5 feats, wsum -5, score = half-up(-50000/5) = -10000
    val s1 = Seq((1, "a b c")).toDF("id", "text")
      .select(QualityClassifier.scoreE4(col("text"), m).as("s")).head().getLong(0)
    assert(s1 == -10000L)
    // wsum -1 over 3 feats: -10000/3 = -3333.33 -> half-up -> -3333
    val m2 = QualityClassifier.Model(Array.fill(16)(0L), bias = -1L)
    val s2 = Seq((1, "a b")).toDF("id", "text")
      .select(QualityClassifier.scoreE4(col("text"), m2).as("s")).head().getLong(0)
    assert(s2 == -3333L)
  }

  test("model round-trips through the persisted (bucket, weight) table") {
    val dir = java.nio.file.Files.createTempDirectory("qc_model").toString
    val m = QualityClassifier.Model(QualityClassifier.synthesizeWeights(64), bias = 7L)
    QualityClassifier.writeModel(spark, m, s"$dir/model")
    val rt = QualityClassifier.readModel(spark, s"$dir/model")
    assert(rt.bias == 7L && rt.weights.toSeq == m.weights.toSeq)
  }

  test("null text yields null struct") {
    val out = Seq((1L, null: String)).toDF("id", "text")
      .select(QualityClassifier.featureSum(col("text"), model).as("s")).collect()
    assert(out(0).isNullAt(0))
  }

  test("a SPARSE weight table installs: absent buckets read as 0, dim from the reserved row") {
    val dir = java.nio.file.Files.createTempDirectory("qc_sparse").toString
    // a production-style sparse table: dim 10, only two non-zero weights
    Seq((-2, 10L), (-1, 4L), (3, 7L), (8, -2L)).toDF("bucket", "weight")
      .write.parquet(s"$dir/model")
    val m = QualityClassifier.readModel(spark, s"$dir/model")
    assert(m.dim == 10 && m.bias == 4L)
    assert(m.weights.toSeq == Seq(0L, 0L, 0L, 7L, 0L, 0L, 0L, 0L, -2L, 0L))
  }

  test("a pre-v2 dense table without the dim row still reads (max bucket + 1)") {
    val dir = java.nio.file.Files.createTempDirectory("qc_legacy").toString
    Seq((-1, 2L), (0, 5L), (1, 6L), (2, 7L), (3, 8L)).toDF("bucket", "weight")
      .write.parquet(s"$dir/model")
    val m = QualityClassifier.readModel(spark, s"$dir/model")
    assert(m.dim == 4 && m.bias == 2L && m.weights.toSeq == Seq(5L, 6L, 7L, 8L))
  }

  // ------------------------------------------------------------- training

  private def labeled(n: Long) = (0L until n).map { i =>
    val good = i % 2 == 0
    val marker = if (good) "wiki cite prose" else "buy now free"
    (i, s"body b${i % 9} t${i % 5} $marker", good)
  }.toDF("doc_id", "text", "lbl")

  test("trainCentroid separates the classes it was fit on") {
    val docs = labeled(80)
    val m = QualityClassifier.trainCentroid(docs, "text", "lbl", dim = 512)
    val out = QualityClassifier.classify(docs, "text", m)
      .select(col("lbl"), col("score_e4")).as[(Boolean, Long)].collect()
    assert(out.filter(_._1).forall(_._2 > 0L), "good docs must score positive")
    assert(out.filterNot(_._1).forall(_._2 < 0L), "bad docs must score negative")
  }

  test("trainCentroid is a pure function of the labeled set — partitioning-invariant") {
    val docs = labeled(60)
    val a = QualityClassifier.trainCentroid(docs.repartition(7), "text", "lbl", dim = 128)
    val b = QualityClassifier.trainCentroid(docs.repartition(3), "text", "lbl", dim = 128)
    assert(a.weights.toSeq == b.weights.toSeq && a.bias == b.bias)
  }

  test("a trained model round-trips sparsely and serves the same scores") {
    val dir = java.nio.file.Files.createTempDirectory("qc_trained").toString
    val docs = labeled(40)
    val m = QualityClassifier.trainCentroid(docs, "text", "lbl", dim = 256)
    QualityClassifier.writeModel(spark, m, s"$dir/model")
    val rt = QualityClassifier.readModel(spark, s"$dir/model")
    assert(rt.dim == 256 && rt.weights.toSeq == m.weights.toSeq)
    val a = QualityClassifier.classify(docs, "text", m).orderBy("doc_id").collect()
    val b = QualityClassifier.classify(docs, "text", rt).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("trainCentroid refuses a single-class corpus") {
    val docs = (0L until 10L).map(i => (i, s"t$i", true)).toDF("doc_id", "text", "lbl")
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.trainCentroid(docs, "text", "lbl", dim = 64)
    }
    assert(e.getMessage.contains("BOTH classes"))
  }

  private def langDocs(n: Int) = (0L until n.toLong).map { i =>
    val (cls, marker) = (i % 3) match {
      case 0 => ("de", "der schnelle fuchs springt")
      case 1 => ("en", "the quick fox jumps")
      case _ => ("fr", "le renard rapide saute")
    }
    (i, s"shared filler s${i % 7} $marker", cls)
  }.toDF("doc_id", "text", "cls")

  test("trainCentroidMulti + classifyMulti recover the class of every marked doc") {
    val docs = langDocs(90)
    val models = QualityClassifier.trainCentroidMulti(docs, "text", "cls", dim = 512)
    assert(models.map(_._1) == Seq("de", "en", "fr"), "classes sorted by name")
    val out = QualityClassifier.classifyMulti(docs, "text", models)
      .select(col("cls"), col("pred")).as[(String, String)].collect()
    assert(out.forall { case (c, p) => c == p },
      s"misclassified: ${out.filter(x => x._1 != x._2).take(5).toSeq}")
  }

  test("multi-class model round-trips sparsely through one table and serves identically") {
    val dir = java.nio.file.Files.createTempDirectory("qc_multi").toString
    val docs = langDocs(45)
    val models = QualityClassifier.trainCentroidMulti(docs, "text", "cls", dim = 256)
    QualityClassifier.writeMultiModel(spark, models, s"$dir/model")
    val rt = QualityClassifier.readMultiModel(spark, s"$dir/model")
    assert(rt.map(_._1) == models.map(_._1))
    rt.zip(models).foreach { case ((_, a), (_, b)) =>
      assert(a.dim == b.dim && a.weights.toSeq == b.weights.toSeq && a.bias == b.bias)
    }
    val x = QualityClassifier.classifyMulti(docs, "text", models).orderBy("doc_id").collect()
    val y = QualityClassifier.classifyMulti(docs, "text", rt).orderBy("doc_id").collect()
    assert(x.toSeq == y.toSeq)
  }

  test("trainCentroidMulti is partitioning-invariant and argmax ties break alphabetically") {
    val docs = langDocs(60)
    val a = QualityClassifier.trainCentroidMulti(docs.repartition(7), "text", "cls", dim = 128)
    val b = QualityClassifier.trainCentroidMulti(docs.repartition(2), "text", "cls", dim = 128)
    a.zip(b).foreach { case ((ca, ma), (cb, mb)) =>
      assert(ca == cb && ma.weights.toSeq == mb.weights.toSeq)
    }
    // two identical models => identical scores => the alphabetically
    // first class must win every row
    val twin = Seq("zz" -> a.head._2, "aa" -> a.head._2)
    val preds = QualityClassifier.classifyMulti(docs, "text", twin)
      .select("pred").distinct().as[String].collect().toSeq
    assert(preds == Seq("aa"), preds.toString)
  }

  test("classifyMulti equals per-class featureSum scoring with an alphabetical argmax") {
    // 8 distinct classes, each with its own dim (2048 + k % 5, so the
    // per-class modulo runs), plus 4 twins that copy classes 0-3 under
    // later names: wherever an original wins, its twin ties at the max
    // and `pred` must be the alphabetically first of the two
    val distinct = (0 until 8).map { k =>
      val dim = 2048 + k % 5
      f"cls$k%02d" -> QualityClassifier.Model(
        QualityClassifier.synthesizeWeights(dim).map(_ + k), bias = k.toLong)
    }
    val twins = (0 until 4).map(k => f"cls${k + 8}%02d" -> distinct(k)._2)
    val models = distinct ++ twins
    val classes = models.map(_._1).sorted
    val docs = (0L until 40L).map { i =>
      (i, (0L to i % 9).map(j => s"w${(i * 7 + j * 13) % 23}").mkString(" "))
    }.toDF("doc_id", "text")

    // reference: one single-class featureSum per class, the half-up e4
    // mean and the argmax, computed here row by row
    val sums = docs.select(col("doc_id") +: models.map { case (c, m) =>
      QualityClassifier.featureSum(col("text"), m).as(c) }: _*)
    val expected = sums.collect().map { r =>
      val scores = models.map { case (c, m) =>
        val s = r.getStruct(r.fieldIndex(c)) // (n_feats, wsums)
        val (n, w) = (s.getLong(0), s.getSeq[Long](1).head)
        c -> Math.floorDiv((w + m.bias) * 10000 * 2 + n, 2 * n)
      }.toMap
      val n = r.getStruct(1).getLong(0)
      val best = scores.values.max
      (r.getLong(0), n, classes.map(scores), classes.find(scores(_) == best).get)
    }.sortBy(_._1).toSeq

    val out = QualityClassifier.classifyMulti(docs, "text", models)
    val got = out.select(col("doc_id") +: col("n_feats") +: classes.map(c => col(s"score_${c}_e4")) :+
        col("pred"): _*)
      .collect().map { r =>
        (r.getLong(0), r.getLong(1),
          classes.indices.map(i => r.getLong(2 + i)), r.getString(2 + classes.size))
      }.sortBy(_._1).toSeq
    assert(got.size == 40)
    assert(got == expected)
    // the tiebreak ran: some row's max is shared by an original and its twin
    assert(expected.exists { case (_, _, sc, _) => sc.count(_ == sc.max) > 1 })
  }

  test("trainCentroidMulti refuses null class labels") {
    val docs = Seq((1L, "a b", "en"), (2L, "c d", null))
      .toDF("doc_id", "text", "cls")
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.trainCentroidMulti(docs, "text", "cls", dim = 64)
    }
    assert(e.getMessage.contains("non-null"))
  }

  test("trainCentroid is the difference of the two class centroids; a null label counts for neither") {
    // "maybe" casts to a null boolean: that row must move no weight, as
    // the "true"/"false" rows alone define the fit
    val docs = Seq(
      (1L, "wiki cite prose body", "true"),
      (2L, "wiki prose again here", "true"),
      (3L, "buy now free offer", "false"),
      (4L, "free free buy click", "false"),
      (5L, "wiki buy free maybe-row words", "maybe")).toDF("doc_id", "text", "lbl")
    val dim = 97
    val m = QualityClassifier.trainCentroid(docs, "text", "lbl", dim)
    val twoClass = QualityClassifier.trainCentroidMulti(
      docs.filter(col("lbl").isin("true", "false")), "text", "lbl", dim).toMap
    assert(twoClass.keySet == Set("true", "false"))
    val diff = twoClass("true").weights.zip(twoClass("false").weights).map { case (g, b) => g - b }
    assert(m.weights.toSeq == diff.toSeq && m.bias == 0L)
    // the same difference from counts recomputed here: halfUp(c·10⁶ / C)
    def shares(texts: Seq[String]): Array[Long] = {
      val n = new Array[Long](dim)
      texts.foreach { t =>
        val toks = t.split(" ", -1).toSeq
        (toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")))
          .foreach(f => n((Dedup.tokenHash64Jvm(f) % dim).toInt) += 1)
      }
      val total = n.sum
      n.map(x => Math.floorDiv(x * QualityClassifier.TrainScale * 2 + total, total * 2))
    }
    val rows = docs.as[(Long, String, String)].collect().toSeq
    val g = shares(rows.filter(_._3 == "true").map(_._2))
    val b = shares(rows.filter(_._3 == "false").map(_._2))
    assert(m.weights.toSeq == g.zip(b).map { case (x, y) => x - y }.toSeq)
  }

  test("classify's score_e4 equals classifyMulti's score over the one class the model names") {
    val docs = (0L until 30L).map(i => (i, s"doc $i token${i % 7} " * (1 + (i % 4).toInt)))
      .toDF("doc_id", "text")
    val m = QualityClassifier.Model(QualityClassifier.synthesizeWeights(509), bias = -3L)
    val single = QualityClassifier.classify(docs, "text", m)
      .select("doc_id", "n_feats", "score_e4").as[(Long, Long, Long)].collect().sortBy(_._1)
    val multi = QualityClassifier.classifyMulti(docs, "text", Seq("only" -> m))
      .select("doc_id", "n_feats", "score_only_e4").as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(single.length == 30 && single.toSeq == multi.toSeq)
  }
}
