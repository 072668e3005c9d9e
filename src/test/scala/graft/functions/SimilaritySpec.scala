package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  test("kmeans recovers three separated direction clusters") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 30 vectors in 3 tight direction cones around orthogonal axes
    val rows = (0 until 30).map { i =>
      val axis = i % 3
      val eps = 0.05f * ((i % 7) - 3)
      val v = Array.fill(4)(0.0f)
      v(axis) = 1.0f
      v((axis + 1) % 4) = eps
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, k = 3, iters = 4)
    val assign = Similarity.kmeansAssign(df, cents)
      .as[(Long, Long)].collect().toMap
    // every member of a ground-truth cone lands in the same learned cell,
    // and the three cones land in three distinct cells
    val cellsPerCone = (0 until 3).map(a => rows.collect { case (id, _) if id % 3 == a => assign(id) }.toSet)
    assert(cellsPerCone.forall(_.size == 1), cellsPerCone.toString)
    assert(cellsPerCone.flatten.toSet.size == 3)
  }

  test("kmeansCentroids is bit-identical under any partitioning (q79 root cause)") {
    import spark.implicits._
    // messy, varying-norm vectors so float-sum order WOULD have mattered:
    // pre-round-10 double accumulation diverged in the last ulp between
    // partitionings, which across two Lloyd's iterations could flip
    // assignments — fixed-point long sums are exactly order-invariant
    val rows = (0 until 97).map { i =>
      val v = Array.tabulate(16) { d =>
        (math.sin(i * 31 + d * 7).toFloat * (1 + (i % 5))) / (1 + d % 3)
      }
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val trained = Seq(1, 3, 13, 32).map { p =>
      Similarity.kmeansCentroids(df.repartition(p), k = 5, iters = 3)
    }
    trained.tail.foreach { t =>
      assert(t.length == trained.head.length)
      t.zip(trained.head).zipWithIndex.foreach { case ((a, b), c) =>
        assert(java.util.Arrays.equals(a, b),
          s"centroid $c differs across partitionings")
      }
    }
  }

  test("ivfTopKWithCentroids: trained k-means centroids slot into IVF; nProbe=1 exact on separated clusters") {
    import spark.implicits._
    val rows = (0 until 30).map { i =>
      val axis = i % 3
      val eps = 0.05f * ((i % 7) - 3)
      val v = Array.fill(4)(0.0f)
      v(axis) = 1.0f
      v((axis + 1) % 4) = eps
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val trained = Similarity.kmeansCentroids(df, k = 3, iters = 4)
    val queries = df.filter(col("vec_id") < 3)
    // each query's true nearest neighbor lives in its own cone = its own
    // trained cell, so probing ONE cell must already match brute force
    val ivf = Similarity.ivfTopKWithCentroids(df, queries, trained, nProbe = 1, k = 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(df, queries, 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(ivf == brute, s"ivf $ivf\nbrute $brute")
  }

  test("ivfInt8TopK: trained centroids + int8 lists match brute force on separated clusters") {
    import spark.implicits._
    val rows = (0 until 30).map { i =>
      val axis = i % 3
      val eps = 0.05f * ((i % 7) - 3)
      val v = Array.fill(4)(0.0f)
      v(axis) = 1.0f
      v((axis + 1) % 4) = eps
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val trained = Similarity.kmeansCentroids(df, k = 3, iters = 4)
    val queries = df.filter(col("vec_id") < 3)
    // CONES are angularly separated far beyond int8 quantization error, so
    // probing ONE trained cell must return only same-cone neighbors, k of
    // them, ranked 1..k. (Exact neighbor-set equality with float brute
    // force is deliberately NOT asserted: within a cone, candidates sit
    // ~2e-5 apart in cosine — far below int8 resolution — so the quantized
    // ranker may legitimately swap near-ties. Between-cone correctness is
    // the property the composition owes.)
    val ivf = Similarity.ivfInt8TopK(df, queries, trained, nProbe = 1, k = 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    assert(ivf.length == 9)
    assert(ivf.forall { case (q, n, _) => n % 3 == q % 3 && n != q }, ivf.mkString(", "))
    val ranksPerQuery = ivf.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(ranksPerQuery.values.forall(_ == Seq(1, 2, 3)), ranksPerQuery.toString)
  }

  test("persisted IVF index serves the same results as the in-memory composition") {
    import spark.implicits._
    val rows = (0 until 30).map { i =>
      val axis = i % 3
      val eps = 0.05f * ((i % 7) - 3)
      val v = Array.fill(4)(0.0f)
      v(axis) = 1.0f
      v((axis + 1) % 4) = eps
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val trained = Similarity.kmeansCentroids(df, k = 3, iters = 4)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    Similarity.writeIvfIndex(df, trained, idx)
    val queries = df.filter(col("vec_id") < 3)
    // same trained model, same quantization, same ranking arithmetic —
    // the persisted round trip must be result-identical (int8 scores are
    // integer-exact, so no float-order caveat applies here)
    val served = Similarity.queryIvfIndex(spark, idx, queries, nProbe = 1, k = 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val direct = Similarity.ivfInt8TopK(df, queries, trained, nProbe = 1, k = 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(served == direct, s"served $served\ndirect $direct")
  }

  test("appendToIvfIndex: serve-after-append == serve-on-rebuilt index, appends land in existing cells") {
    import spark.implicits._
    val rows = (0 until 30).map { i =>
      val axis = i % 3
      val eps = 0.05f * ((i % 7) - 3)
      val v = Array.fill(4)(0.0f)
      v(axis) = 1.0f
      v((axis + 1) % 4) = eps
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val base = df.filter(col("vec_id") < 21)
    val batch = df.filter(col("vec_id") >= 21)
    // the model is trained on the BASE only and frozen — append assigns
    // the new batch to the persisted centroids, never retrains
    val trained = Similarity.kmeansCentroids(base, k = 3, iters = 4)
    val grown = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Similarity.writeIvfIndex(base, trained, grown)
    Similarity.appendToIvfIndex(spark, grown, batch)
    // the reference: the full corpus indexed in ONE build under the same
    // centroids (read back from the index so both sides share the model)
    val oneShot = java.nio.file.Files.createTempDirectory("graft-ivf-one").toString
    Similarity.writeIvfIndex(df, Similarity.readIvfCentroids(spark, grown), oneShot)
    val queries = df.filter(col("vec_id") < 3)
    val viaAppend = Similarity.queryIvfIndex(spark, grown, queries, nProbe = 2, k = 4)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    val viaRebuild = Similarity.queryIvfIndex(spark, oneShot, queries, nProbe = 2, k = 4)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    // deterministic row identity, not set overlap: assignment, int8
    // scoring and vec_id tiebreaks are all functions of the frozen model
    assert(viaAppend == viaRebuild, s"append $viaAppend\nrebuild $viaRebuild")
    // appended rows must EXTEND existing cell partitions, never mint new
    // layout: the lists dir still has at most k cell_id directories
    val cellDirs = new java.io.File(s"$grown/lists").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell_id="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 3, cellDirs.map(_.getName).mkString(", "))
    // and the appended batch is actually THERE: every batch vec_id serves
    val listed = spark.read.parquet(s"$grown/lists").select("vec_id")
      .as[Long].collect().toSet
    assert((21L until 30L).forall(listed.contains), listed.toString)
  }

  test("kmeansInertia: zero for a perfect model, monotone non-increasing under training") {
    import spark.implicits._
    val rows = (0 until 30).map { i =>
      val axis = i % 3
      val eps = 0.05f * ((i % 7) - 3)
      val v = Array.fill(4)(0.0f)
      v(axis) = 1.0f
      v((axis + 1) % 4) = eps
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    // a model that IS the corpus directions scores near 0: each row's cos
    // to its cone axis is 1 − O(eps²) ≈ ≥ 0.989, so the 30-row SUM stays
    // under 30 × 0.011 ≈ 0.33 — far below the ≥ 10 a wrong model scores
    val axes = Array(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    assert(Similarity.kmeansInertia(df, axes) < 0.35)
    // Lloyd's monotonicity: each extra iteration can only reduce inertia
    // (to float slack) — the q62 gate's contract
    val init = df.orderBy("vec_id").limit(3)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val inertias = Seq(
      Similarity.kmeansInertia(df, init),
      Similarity.kmeansInertia(df, Similarity.kmeansCentroids(df, 3, iters = 1)),
      Similarity.kmeansInertia(df, Similarity.kmeansCentroids(df, 3, iters = 3)))
    assert(inertias.sliding(2).forall { case Seq(a, b) => b <= a * (1 + 1e-6) },
      inertias.toString)
  }

  test("spherical training: cosine inertia is monotone on VARYING-NORM corpora (10 seeds)") {
    import spark.implicits._
    // the exact failure mode the spherical update exists for: raw-vector
    // means optimize squared-Euclidean and CAN increase cosine inertia
    // when member norms vary wildly; the normalized-member mean is the
    // cosine objective's own maximizer, so every chain must be monotone
    for (seed <- 0 until 10) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 40).map { i =>
        // directions spread over 4 dims, norms spanning 0.05..20x
        val dir = Array.fill(4)((rnd.nextFloat() - 0.5f) * 2.0f)
        val scale = math.pow(20.0, rnd.nextDouble() * 2 - 1).toFloat
        (i.toLong, dir.map(_ * scale).toSeq)
      }
      val df = rows.toDF("vec_id", "embedding")
      val init = df.orderBy("vec_id").limit(4)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val chain = Seq(
        Similarity.kmeansInertia(df, init),
        Similarity.kmeansInertia(df, Similarity.kmeansCentroids(df, 4, iters = 1)),
        Similarity.kmeansInertia(df, Similarity.kmeansCentroids(df, 4, iters = 2)),
        Similarity.kmeansInertia(df, Similarity.kmeansCentroids(df, 4, iters = 4)))
      assert(chain.sliding(2).forall { case Seq(a, b) => b <= a * (1 + 1e-6) },
        s"seed $seed: non-monotone inertia chain $chain")
    }
  }

  test("single centroid (k=1 kmeans, nCells=1 IVF) assigns without greatest()'s 2-arg minimum") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // nearestCentroid with ONE centroid: constant assignment, no plan error
    val one = df.withColumn("cell",
      Similarity.nearestCentroid(col("embedding"), Array((7L, Array(1.0f, 0.0f)))))
      .select("cell").as[Long].collect().toSet
    assert(one == Set(7L))
    // end to end: k=1 kmeans trains and assigns everything to the one cell
    val cents = Similarity.kmeansCentroids(df, k = 1, iters = 2)
    assert(cents.length == 1)
    val assigned = Similarity.kmeansAssign(df, cents).as[(Long, Long)].collect().toMap
    assert(assigned.values.toSet.size == 1)
    // and nCells=1 IVF degrades to brute force over the single cell
    val out = Similarity.ivfTopK(df, df.filter(col("vec_id") === 0), nCells = 1, nProbe = 1, k = 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(1L))
  }

  test("native dot product is bit-identical to the HOF composition") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (Seq(1.5f, -2.25f, 3.75f), Seq(0.5, 2.0, -1.25)),
      (Seq(0.1f, 0.2f, 0.3f), Seq(-0.7, 0.9, 1.1)))
      .toDF("a", "b")
    val out = df.select(
      DotProduct.dotNative(col("a"), col("b")).as("native"),
      Similarity.dot(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h))
    }
  }
  import spark.implicits._

  test("cosine: parallel=1, antiparallel=-1, orthogonal=0") {
    val out = Seq(
      (Seq(1f, 2f), Seq(2f, 4f)),
      (Seq(1f, 0f), Seq(-1f, 0f)),
      (Seq(1f, 0f), Seq(0f, 1f)))
      .toDF("a", "b")
      .select(round(Similarity.cosine(col("a"), col("b")), 10)).as[Double].collect().toSeq
    assert(out == Seq(1.0, -1.0, 0.0))
  }

  test("bruteForceTopK returns k ranked neighbors excluding self") {
    val emb = Seq(
      (0L, Seq(1f, 0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0f, 1f)),
      (3L, Seq(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 2)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSeq
    assert(out.toSet == Set((0L, 1L, 1), (0L, 2L, 2)))
  }

  test("lshBucket is deterministic and in range") {
    val emb = Seq((0L, Seq.fill(8)(0.5f)), (1L, Seq.fill(8)(-0.5f))).toDF("vec_id", "embedding")
    val b1 = emb.select(Similarity.lshBucket(col("embedding"), 8, 6, seed = 7L)).as[Long].collect().toSeq
    val b2 = emb.select(Similarity.lshBucket(col("embedding"), 8, 6, seed = 7L)).as[Long].collect().toSeq
    assert(b1 == b2)
    assert(b1.forall(b => b >= 0 && b < 64))
    // antiparallel vectors flip every hyperplane sign -> complementary buckets
    assert(b1(0) + b1(1) == 63)
  }

  test("ivfIndexRecall: exhaustive-truth overlap is k for an exact index, 0 for a missed cell") {
    // 2 cells far apart; with nProbe = 2 (all cells) the served set IS the
    // exhaustive set -> hits = k; with nProbe = 1 a query whose true
    // neighbors live in the unprobed cell scores 0 — the monitor detects
    // exactly the probe-miss pathology drift causes
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f, 0f)), (2L, Seq(0.8f, 0.2f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f)), (4L, Seq(0.1f, 0.9f, 0f, 0f)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-recall").toString + "/idx"
    Similarity.writeIvfIndex(emb, Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f)), idx)
    val q = emb.filter(col("vec_id") === 0L)
    val full = Similarity.ivfIndexRecall(spark, idx, q, nProbe = 2, k = 2)
      .select("hits").as[Long].collect().toSeq
    assert(full == Seq(2L), s"all-cells probe must be exhaustive, got $full")
    val partial = Similarity.ivfIndexRecall(spark, idx, q, nProbe = 1, k = 4)
      .select("hits").as[Long].collect().toSeq
    // k=4 truth spans both cells (4 non-self vectors); probing only cell 0
    // serves its 2 residents -> recall 2/4
    assert(partial == Seq(2L), s"single-cell probe must miss the other cell's truth, got $partial")
  }

  test("migrateIvfIndex: migrated index == fresh build with the same model; crash window recovers") {
    val base = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)), (3L, Seq(0.1f, 0.9f, 0f, 0f)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    val grown = Seq((10L, Seq(0.7f, 0.3f, 0f, 0f)), (11L, Seq(0.2f, 0.8f, 0f, 0f)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    val corpus = base.unionByName(grown)
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val pq = Pq.initCodebooks(base, dims = 4, m = 2, k = 2)

    /** One index family's install, append, migration, same-model fresh
      * build and serve. */
    final case class Family(
        name: String,
        install: String => Unit,
        append: String => Unit,
        migrate: String => Unit,
        freshFrom: (String, String) => Unit,
        serve: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)
    val families = Seq(
      Family("int8",
        Similarity.writeIvfIndex(base, cents, _),
        Similarity.appendToIvfIndex(spark, _, grown),
        Similarity.migrateIvfIndex(spark, _, corpus, k = 2, iters = 2),
        (from, to) => Similarity.writeIvfIndex(corpus, Similarity.readIvfCentroids(spark, from), to),
        (p, q) => Similarity.queryIvfIndex(spark, p, q, 2, 3)),
      Family("pq",
        Pq.writeIvfPqIndex(base, cents, pq, _),
        Pq.appendToIvfPqIndex(spark, _, grown),
        Pq.migrateIvfPqIndex(spark, _, corpus, nCells = 2, kmIters = 2, pqIters = 2),
        (from, to) => Pq.writeIvfPqIndex(
          corpus, Similarity.readIvfCentroids(spark, from), Pq.readPqModel(spark, from), to),
        (p, q) => Pq.queryIvfPqIndex(spark, p, q, 2, 3)))

    families.foreach { f =>
      val idx = java.nio.file.Files.createTempDirectory(s"graft-ivf-mig-${f.name}").toString + "/idx"
      f.install(idx)
      f.append(idx)
      f.migrate(idx)
      // serve-equivalence against a FRESH one-shot build under the migrated
      // index's own (retrained) models — proves the alongside-build + swap
      // produced a complete index, independent of k-means ulp concerns
      val fresh = java.nio.file.Files.createTempDirectory(s"graft-ivf-mig2-${f.name}").toString + "/idx"
      f.freshFrom(idx, fresh)
      val q = corpus.filter(col("vec_id") === 10L)
      def serve(p: String) = f.serve(p, q).collect().toSeq.sortBy(_.getInt(3))
      assert(serve(idx).nonEmpty, f.name)
      assert(serve(idx) == serve(fresh), f.name)
      // the migration swallowed the append-era duplicates risk: no vec twice
      val served = spark.read.parquet(s"$idx/lists").select("vec_id").as[Long].collect().toSeq
      assert(served.sorted == served.distinct.sorted, f.name)

      // crash window: between the swap's renames the index is parked in
      // __old; startup recovery restores it and serving resumes
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
      fs.rename(
        new org.apache.hadoop.fs.Path(idx),
        new org.apache.hadoop.fs.Path(idx + graft.sinks.Sinks.OldSuffix))
      PersistedIndex.Ivf.recover(spark, idx)
      assert(serve(idx) == serve(fresh), s"${f.name}: recovery must restore the parked generation")
    }
  }

  test("queryIvfIndex at nProbe = nCells equals int8TopK row for row") {
    // probing every cell scores every resident with the same int8 kernel
    // and ranks with the same (sim desc, vec_id) tiebreak, so the index
    // serve and the flat scan must agree exactly — ranks, ids and sims
    val rnd = new scala.util.Random(11)
    val df = (0L until 80L).map(i => (i, Seq.fill(8)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>"))
    val cents = Similarity.kmeansCentroids(df, k = 4, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-flat").toString
    Similarity.writeIvfIndex(df, cents, idx)
    val queries = df.filter(col("vec_id") % 9 === 0)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(3)))
    val served = rows(Similarity.queryIvfIndex(spark, idx, queries, nProbe = cents.length, k = 6))
    assert(served.size == 9 * 6)
    assert(served == rows(Similarity.int8TopK(df, queries, 6)))
  }

  test("ivfTopK finds the true nearest neighbor when it shares the probed cell") {
    val emb = Seq(
      (0L, Seq(1f, 0f)),    // exemplar centroid 0
      (1L, Seq(0f, 1f)),    // exemplar centroid 1
      (2L, Seq(0.95f, 0.05f)), // cell 0
      (3L, Seq(0.1f, 0.9f)))   // cell 1
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(emb, emb.filter(col("vec_id") === 2), nCells = 2, nProbe = 1, k = 1)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSeq
    // probe cell 0 only -> best candidate there is vec 0 itself
    assert(out == Seq((2L, 0L, 1)))
  }

  test("ivfTopK exemplars do not assume a 0-based id space") {
    import spark.implicits._
    // 1-based ids: the previous `vec_id < nCells` exemplar filter would
    // collect a single exemplar here (one short), and offset id spaces
    // none at all (aborting on nearestCentroid's require)
    val emb = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(0.95f, 0.05f)), (4L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(emb, emb.filter(col("vec_id") === 3), nCells = 2, nProbe = 1, k = 1)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((3L, 1L, 1)))
  }

  test("dedupAgainstIvfIndex: zero vectors (NaN int8 cosine) never match in either direction") {
    import spark.implicits._
    // index: one real resident + one ZERO resident (a failed/padded
    // embedding) in a single-cell index, so every probe sees both
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-nan").toString
    Similarity.writeIvfIndex(corpus, Array(Array(1f, 0f, 0f, 0f)), idx)
    // batch: a genuinely novel direction + a zero vector
    val batch = Seq(
      (100L, Seq(0f, 1f, 0f, 0f)),
      (101L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val survivors = Similarity
      .dedupAgainstIvfIndex(spark, idx, batch, nProbe = 1, minSim = 0.9)
      .select("vec_id").as[Long].collect().toSet
    // without the NaN guard the zero RESIDENT scores NaN (= "above
    // threshold" under Spark's NaN ordering) against every batch doc —
    // both would silently drop as duplicates
    assert(survivors == Set(100L, 101L), survivors.toString)
  }

  test("lshCandidatePairs only pairs same-bucket vectors, ordered ids") {
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.99f, 0.01f, 0f, 0f)),
      (2L, Seq(-1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.lshCandidatePairs(emb, dims = 4, nBits = 8, seed = 3L)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    // near-identical vectors land together; the antiparallel one cannot
    assert(out.forall { case (a, b) => a < b })
    assert(out.contains((0L, 1L)))
    assert(!out.exists { case (a, b) => b == 2L || a == 2L })
  }

  test("dedupAgainstIvfIndex: copies of residents quarantined, novel vectors survive, re-probe of residents is self-safe") {
    import spark.implicits._
    // three separated axis clusters; the index holds all 30
    val rows = (0 until 30).map { i =>
      val axis = i % 3
      val eps = 0.05f * ((i % 7) - 3)
      val v = Array.fill(4)(0.0f)
      v(axis) = 1.0f
      v((axis + 1) % 4) = eps
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val trained = Similarity.kmeansCentroids(df, k = 3, iters = 4)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-dedup").toString
    Similarity.writeIvfIndex(df, trained, idx)
    // batch: exact copies of residents 0..2 under fresh ids, plus a novel
    // vector on the axis no cluster occupies (orthogonal to every resident
    // direction up to the eps tilt — far below any sane threshold)
    val batch = (
      rows.take(3).map { case (id, v) => (100L + id, v) } :+
        (999L, Seq(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val survivors = Similarity
      .dedupAgainstIvfIndex(spark, idx, batch, nProbe = 1, minSim = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors == Set(999L), survivors.toString)
    // survivors carry ALL batch columns, not a projection
    assert(Similarity.dedupAgainstIvfIndex(spark, idx, batch, nProbe = 1, minSim = 0.9)
      .columns.toSet == Set("vec_id", "embedding"))
    // replaying resident rows under their OWN ids: the self-pair exclusion
    // must keep a crash-replayed ingest batch from quarantining itself
    // against its previously-published copy... unless a DIFFERENT resident
    // is within threshold, which the eps tilts guarantee here — so probe a
    // cluster singleton instead: index only vector 0, re-probe vector 0
    val solo = rows.take(1).toDF("vec_id", "embedding")
    val soloIdx = java.nio.file.Files.createTempDirectory("graft-ivf-dedup-solo").toString
    Similarity.writeIvfIndex(solo, Similarity.kmeansCentroids(solo, k = 1, iters = 1), soloIdx)
    val replay = Similarity
      .dedupAgainstIvfIndex(spark, soloIdx, solo, nProbe = 1, minSim = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(replay == Set(0L), s"self-pair not excluded: $replay")
  }
}
