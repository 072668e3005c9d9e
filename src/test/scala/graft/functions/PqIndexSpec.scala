package graft.functions

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contracts of the persisted IVF-PQ index (q92): serve-vs-in-memory
  * equivalence, frozen-model append equivalence, the crash-window
  * readability guard, and scheme-version rejection.
  */
class PqIndexSpec extends SparkSpec {

  import spark.implicits._

  private val Dims = 64

  private def clustered(n: Int, seed: Int = 5): DataFrame = {
    val rnd = new Random(seed)
    val centers = Array.fill(4, Dims)((rnd.nextDouble() - 0.5).toFloat)
    (0L until n.toLong).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + (rnd.nextDouble() * 0.05 - 0.025).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
  }

  private def models(df: DataFrame): (Array[Array[Float]], Pq.PqModel) = (
    Similarity.kmeansCentroids(df, k = 4, iters = 2),
    Pq.train(df, Pq.initCodebooks(df, Dims, m = 8, k = 8), iters = 2))

  private def served(path: String, queries: DataFrame, k: Int = 5) =
    Pq.queryIvfPqIndex(spark, path, queries, nProbe = 2, k = k)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap

  test("persisted IVF-PQ index round-trips: readable, version-stamped, serves ranked results") {
    val df = clustered(120)
    val (cents, model) = models(df)
    val path = Files.createTempDirectory("graft-ivfpq").toString
    assert(!Pq.ivfPqIndexReadable(spark, path))
    Pq.writeIvfPqIndex(df, cents, model, path)
    assert(Pq.ivfPqIndexReadable(spark, path))
    val back = Pq.readPqModel(spark, path)
    assert(back.dims == model.dims && back.m == model.m && back.k == model.k)
    assert(java.util.Arrays.equals(back.codebooks, model.codebooks))
    val res = Pq.queryIvfPqIndex(spark, path, df.filter(col("vec_id") < 3), nProbe = 2, k = 5)
      .collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.size == 3)
    byQ.foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to 5))
      assert(!rows.exists(_.getLong(1) == qid))
    }
    // tight clusters: every served neighbor shares the query's cluster
    res.foreach { r => assert(r.getLong(1) % 4 == r.getLong(0) % 4, r.toString) }
  }

  test("append against frozen models == rebuild over the union (same models)") {
    val df = clustered(150, seed = 9)
    val base = df.filter(col("vec_id") % 5 =!= 3)
    val batch = df.filter(col("vec_id") % 5 === 3)
    val (cents, model) = models(base)
    val appended = Files.createTempDirectory("graft-ivfpq-app").toString
    Pq.writeIvfPqIndex(base, cents, model, appended)
    Pq.appendToIvfPqIndex(spark, appended, batch)
    val rebuilt = Files.createTempDirectory("graft-ivfpq-reb").toString
    Pq.writeIvfPqIndex(df, cents, model, rebuilt)
    val queries = df.filter(col("vec_id") < 4)
    assert(served(appended, queries) == served(rebuilt, queries))
    // a replayed (duplicated) append must serve identically — the distinct
    // absorber contract the int8 index also carries
    Pq.appendToIvfPqIndex(spark, appended, batch)
    assert(served(appended, queries) == served(rebuilt, queries))
  }

  test("a torn write is unreadable; a scheme-version mismatch refuses to serve") {
    val df = clustered(60, seed = 13)
    val (cents, model) = models(df)
    val path = Files.createTempDirectory("graft-ivfpq-torn").toString
    Pq.writeIvfPqIndex(df, cents, model, path)
    // torn: codebooks leg missing its data files
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/codebooks"), true)
    assert(!Pq.ivfPqIndexReadable(spark, path))
    // stale scheme: a codebooks table stamped with a different version
    Pq.writeIvfPqIndex(df, cents, model, path)
    spark.read.parquet(s"$path/codebooks")
      .withColumn("pq_version", lit("pq-other-v0"))
      .write.mode("overwrite").parquet(s"$path/codebooks_v0")
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/codebooks"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/codebooks_v0"),
      new org.apache.hadoop.fs.Path(s"$path/codebooks"))
    val ex = intercept[IllegalArgumentException] {
      Pq.queryIvfPqIndex(spark, path, df.filter(col("vec_id") < 1), nProbe = 1, k = 3)
    }
    assert(ex.getMessage.contains("scheme"), ex.getMessage)
  }

  test("ivfPqIndexRecall: full-probe serve recalls k; a pruned probe on spread clusters recalls less") {
    val df = clustered(120, seed = 21)
    val (cents, model) = models(df)
    val path = Files.createTempDirectory("graft-ivfpq-recall").toString
    Pq.writeIvfPqIndex(df, cents, model, path)
    // probing every cell makes serve == exhaustive ADC: hits = k exactly
    val full = Pq.ivfPqIndexRecall(spark, path, df.filter(col("vec_id") < 4),
      nProbe = cents.length, k = 5).collect()
    assert(full.length == 4)
    full.foreach(r => assert(r.getLong(1) == 5L, r.toString))
    // nProbe=1 on a 4-cluster corpus with 4-cell model still finds the
    // query's own cluster-mates — recall stays positive but the monitor
    // sees any cross-cell loss (≤ k by construction)
    val pruned = Pq.ivfPqIndexRecall(spark, path, df.filter(col("vec_id") < 4),
      nProbe = 1, k = 5).collect()
    pruned.foreach(r => assert(r.getLong(1) >= 0L && r.getLong(1) <= 5L))
  }

  test("the served scan is directory-pruned to the probed cells and joins by broadcast") {
    val df = clustered(100, seed = 17)
    val (cents, model) = models(df)
    val path = Files.createTempDirectory("graft-ivfpq-plan").toString
    Pq.writeIvfPqIndex(df, cents, model, path)
    val plan = Pq.queryIvfPqIndex(spark, path, df.filter(col("vec_id") < 2), nProbe = 1, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell_id"), plan.take(900))
    assert(plan.contains("BroadcastHashJoin"), plan.take(900))
    assert(!plan.contains("SortMergeJoin"),
      plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("queryIvfPqIndex at nProbe = nCells equals pqTopK(refine = 0) row for row") {
    // probing every cell ADC-scores every resident against the same codes
    // and LUTs the flat pqTopK scan uses, with the same tiebreak — so the
    // two must agree exactly, ranks, ids and sims
    val df = clustered(120, seed = 29)
    val (cents, model) = models(df)
    val path = Files.createTempDirectory("graft-ivfpq-flat").toString
    Pq.writeIvfPqIndex(df, cents, model, path)
    val queries = df.filter(col("vec_id") % 13 === 0)
    def rows(d: DataFrame) = d.collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(3)))
    val served = rows(Pq.queryIvfPqIndex(spark, path, queries, nProbe = cents.length, k = 7))
    assert(served.size == 10 * 7)
    assert(served == rows(Pq.pqTopK(df, queries, model, k = 7, refine = 0)))
  }
}
