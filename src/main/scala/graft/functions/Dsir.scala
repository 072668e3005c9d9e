package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023): pick pretraining documents whose hashed n-gram distribution
  * looks like a TARGET corpus (the "make CommonCrawl look like
  * Wikipedia" move). Three pieces, each deterministic and exactly
  * re-derivable by the DuckDB oracle:
  *
  *   1. TRAIN ([[trainImportance]]): bag-of-hashed-features unigram+bigram
  *      models of the target and raw samples over the SAME feature space
  *      the quality classifier uses (its [[QualityClassifier.featureCounts]]
  *      count: 60-bit md5 → dim buckets); per-bucket importance weight
  *      `w_e4 = round(10⁴·(ln p̂_target(b) − ln p̂_raw(b)))` with add-one
  *      smoothing, quantized ONCE at train time (the [[LangModel]]
  *      discipline — transcendentals never cross an engine boundary), and
  *      persisted as a [[QualityClassifier.Model]] (dense weights, zero
  *      bias): the scorer is the existing codegen [[QualityClassifier
  *      .featureSum]], one map pass, model as plan constant.
  *
  *   2. NOISE ([[gumbelTableE4]]): importance RESAMPLING needs Gumbel
  *      noise on the log weight (Gumbel-top-k ≡ sampling without
  *      replacement ∝ importance). Randomness would break both replay
  *      and the oracle, so the noise is a quantized Gumbel lookup table —
  *      `g_e4(i) = round(10⁴·(−ln(−ln((2i+1)/2R))))`, the midpoint
  *      inverse-CDF — indexed by the engine's salted key-hash
  *      ([[graft.ops.Sampling]]'s basis-point discipline): per-doc noise
  *      that is iid-uniform over documents, stable across runs, engines
  *      and partitioning, and exactly reproducible from the persisted
  *      table.
  *
  *   3. SELECT ([[importanceResample]]): key = logw + gumbel, take the
  *      top n. NOT a global row_number window (a partitionless window is
  *      a single-task sort — the one shape this engine bans at corpus
  *      scale): the n-th (key, id) pair is found with a distributed
  *      TakeOrdered (`orderBy.limit(n)` → one driver row), and selection
  *      is the codegen predicate `key > thr OR (key = thr AND id ≤
  *      thr_id)` — two distributed passes, no single-point sort, ties
  *      broken by id exactly like every other deterministic rank here.
  */
object Dsir {

  /** Gumbel lookup resolution — basis points, matching the salted-hash
    * bucket the selector indexes with.
    */
  val GumbelResolution = 10000

  /** Importance-weight model: `w_e4(b) = round(10⁴·(ln((tc_b+1)/(T+dim))
    * − ln((rc_b+1)/(R+dim))))`. Returned as a [[QualityClassifier.Model]]
    * (zero bias) so the existing codegen scorer, persistence and layout
    * guards apply unchanged.
    */
  def trainImportance(
      target: DataFrame, raw: DataFrame, textCol: String,
      dim: Int = QualityClassifier.DefaultDim): QualityClassifier.Model = {
    // both samples in ONE count, told apart by a side label
    def side(df: DataFrame, name: String) =
      df.select(col(textCol).as("__text"), lit(name).as("__side"))
    val counts = QualityClassifier.featureCounts(
      side(target, "target").unionByName(side(raw, "raw")), "__text", col("__side"), dim)
    val tc = counts.getOrElse("target", new Array[Long](dim))
    val rc = counts.getOrElse("raw", new Array[Long](dim))
    val tTot = tc.sum.toDouble + dim
    val rTot = rc.sum.toDouble + dim
    require(tc.sum > 0, "target sample has no features")
    require(rc.sum > 0, "raw sample has no features")
    val w = Array.tabulate(dim) { b =>
      val lt = StrictMath.log((tc(b) + 1.0) / tTot)
      val lr = StrictMath.log((rc(b) + 1.0) / rTot)
      math.round((lt - lr) * 10000.0)
    }
    QualityClassifier.Model(w, bias = 0L)
  }

  /** The quantized Gumbel(0,1) inverse CDF at midpoints, e4 fixed point:
    * `g_e4(i) = round(10⁴·(−ln(−ln((2i+1)/(2·R)))))`, i ∈ [0, R).
    * Computed once driver-side (StrictMath — deterministic across JVMs)
    * and persisted for the oracle; rides the selection plan as an array
    * literal (~80 KB — far under the tokenizer models that already
    * travel as plan constants).
    */
  def gumbelTableE4(resolution: Int = GumbelResolution): Array[Long] = {
    require(resolution >= 2, s"resolution must be >= 2, got $resolution")
    Array.tabulate(resolution) { i =>
      val u = (2.0 * i + 1.0) / (2.0 * resolution)
      math.round(-StrictMath.log(-StrictMath.log(u)) * 10000.0)
    }
  }

  /** The salted basis-point index of a doc key — [[graft.ops.Sampling]]'s
    * exact salting idiom (`key#salt` through the 60-bit md5 hash), so the
    * oracle reproduces it with the established SQL fragment.
    */
  def noiseIndex(key: Column, salt: String, resolution: Int): Column =
    pmod(Dedup.tokenHash64(concat(key.cast("string"), lit("#" + salt))),
      lit(resolution.toLong))

  /** Gumbel-top-n importance resampling (see the object doc for the
    * scale shape). Output: every doc with (n_feats, logw_e4, gumbel_e4,
    * key_e4, selected 0/1); exactly `min(n, |docs|)` rows carry
    * selected=1. Empty-feature docs score logw_e4 = 0 and still compete
    * (their noise decides — matching the paper's behavior for
    * out-of-support documents under smoothing).
    */
  def importanceResample(
      docs: DataFrame, textCol: String, idCol: String,
      model: QualityClassifier.Model, n: Int, salt: String,
      resolution: Int = GumbelResolution): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val g = gumbelTableE4(resolution)
    val scored = docs
      .withColumn("__fs", QualityClassifier.featureSum(col(textCol), model))
      .select(col(idCol),
        col("__fs.n_feats").as("n_feats"),
        element_at(col("__fs.wsums"), 1).as("logw_e4"),
        element_at(typedLit(g.toSeq),
          (noiseIndex(col(idCol), salt, resolution) + 1).cast("int"))
          .as("gumbel_e4"))
      .withColumn("key_e4", col("logw_e4") + col("gumbel_e4"))
    // the n-th ranked (key, id): TakeOrdered for the top n, then the
    // minimum of that bounded set — only ONE row reaches the driver.
    // (n-row gathers bound the driver exactly like every global limit;
    // for selections beyond tens of millions, threshold by a calibrated
    // key cutoff instead of an exact rank.)
    val nth = scored
      .orderBy(col("key_e4").desc, col(idCol).asc)
      .limit(n)
      .orderBy(col("key_e4").asc, col(idCol).desc)
      .limit(1)
      .select(col("key_e4"), col(idCol).cast("long"))
      .collect()
    nth.headOption match {
      case None => scored.withColumn("selected", lit(0L)) // empty input
      case Some(r) =>
        val (thrKey, thrId) = (r.getLong(0), r.getLong(1))
        scored.withColumn("selected",
          (col("key_e4") > thrKey ||
            (col("key_e4") === thrKey && col(idCol) <= thrId)).cast("long"))
    }
  }
}
