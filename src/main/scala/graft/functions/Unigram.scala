package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM subword tokenization (Kudo 2018, the SentencePiece `unigram`
  * scheme) — the other production tokenizer family next to BPE ([[Bpe]]):
  * instead of greedy merges, LEARN per-piece probabilities by EM over the
  * segmentation lattice and ENCODE by Viterbi (the max-probability
  * segmentation).
  *
  * Scale design (100 TB) — identical to the BPE contract:
  *   - TRAINING never iterates over the corpus: one explode + hash
  *     aggregation reduces it to a capped (word, frequency) dictionary,
  *     and the EM/prune loop runs driver-side over that bounded table
  *     (≤ maxVocab words × ≤ maxPieceLen lattice edges per position).
  *   - ENCODING is one codegen map stage: the (piece, lp_e4) table rides
  *     the plan as a reference object, each document Viterbi-decodes in
  *     its own partition, zero shuffle.
  *
  * Simplifications vs SentencePiece, pinned as contract by `UnigramSpec`:
  * words are the engine-wide single-space tokens ([[Text.tokens]] — no ▁
  * space marker), the prune criterion is expected count (not the exact
  * likelihood-loss ranking), and the EM/prune schedule is FIXED (`emIters`
  * iterations per round, multi-cp pieces cut to 3/4 per round until
  * `vocabSize`) so training is a pure function of the dictionary.
  *
  * Fixed-point contract (the [[LangModel]] discipline): EM runs in doubles
  * driver-side (deterministic — fixed iteration order over sorted arrays,
  * StrictMath transcendentals), then every piece probability quantizes
  * ONCE to `lp_e4 = round(−10⁴·log₂ p)`; Viterbi and every consumer (the
  * expected-table build, the serving expression) work in pure int64 over
  * the SAME persisted integers. Tie contract: at each lattice position the
  * lowest-cost predecessor wins, ties to the SMALLEST start index (= the
  * longest final piece); an unknown single code point costs `unk_lp_e4`
  * (the rarest piece + 4 bits) and counts in `n_unk`; unknown multi-cp
  * substrings are not lattice edges.
  *
  * The correctness gate (q121) is differential, the q97 pattern: the
  * fixture persists an expected table from [[naiveTable]] — an
  * independently-structured textbook Viterbi (immutable fold + declarative
  * minBy vs the production mutable-array loop) — and the oracle joins it,
  * while the query runs the production [[UnigramEncodeStats]] expression
  * over the same corpus; any divergence in costs, tie-breaks or unknown
  * handling hash-fails.
  *
  * Model artifact at `path`:
  *   - `pieces/` (piece, lp_e4): the quantized unigram table
  *   - `_GRAFT_LAYOUT` (unk=<lp_e4>,uni=<version>,oov=unkid|bytes): the
  *     unknown-cp cost and the OOV id story travel with the model
  *     ([[IndexProtocol]] contract)
  *
  * Token IDS (q126, the training-shard serialization surface): a piece's
  * id is its index in the canonical piece order — code-point (= UTF-8
  * binary) collation, pinned by [[CanonicalOrder]] across training,
  * [[readModel]] and the encoder's binary search — so the id vocabulary
  * needs no second artifact. Two OOV stories, recorded as `oov=` in the
  * layout so a consumer can never misread which convention a persisted
  * model uses: `unkid` (default) — an unknown single code point emits
  * the reserved id `|pieces|` (one past the last piece) and counts in
  * `n_oov`; `bytes` ([[Model.byteFallback]], q128) — an unknown code
  * point decomposes into its UTF-8 bytes through the reserved byte tier
  * `|pieces|+0..|pieces|+255` (SentencePiece's `byte_fallback`), making
  * the serialization OOV-impossible, with `n_oov` reporting the emitted
  * byte-tier id count (the fallback mass a curator monitors — unlike
  * BPE's q111, where the byte tokens are REAL vocabulary entries that
  * never read as OOV, the unigram byte tier is reserved-id space).
  */
object Unigram {

  /** Scheme version — a stamp ingredient for persisted model fixtures.
    * v2: the layout records the OOV id story (`oov=unkid`). */
  val Version = 2

  /** Floor applied to EM expected counts before the log renormalization:
    * a piece whose soft count underflows to exactly 0.0 must cost
    * log(total) − log(floor) — large but FINITE — not -Inf, which would
    * quantize to Long.MaxValue and wrap the derived unknown cost negative
    * (round-14 advice). 1e-12 keeps the implied cost well inside the int64
    * e4 budget at any realistic corpus total.
    */
  private val EmExpectedFloor = 1e-12

  /** The capped (word, frequency) dictionary training reduces the corpus
    * to — single-space tokens, top `maxVocab` by (freq desc, word asc).
    */
  def learnDictionary(
      docs: DataFrame, textCol: String, maxVocab: Int = 50000): Seq[(String, Long)] =
    docs
      .select(explode(Text.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w").asc)
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The ONE collation of the canonical piece order: code-point order,
    * which is exactly UTF-8 binary order (what Spark's UTF8String
    * comparison uses). Java's `String.compareTo` sorts by UTF-16 code
    * UNIT instead, which disagrees for supplementary-plane pieces vs
    * pieces in U+E000..U+FFFF — training under one collation and reading
    * the persisted model back under the other would assign the same model
    * different ids before vs after persistence, and a binary search under
    * the wrong collation can miss real pieces and silently emit the
    * reserved OOV id (r16 advice). Training, [[readModel]], the
    * [[Model]] invariant, and the encoder's binary search all use THIS
    * comparator.
    */
  private[graft] object CanonicalOrder
      extends Ordering[String] with java.util.Comparator[String] {
    override def compare(a: String, b: String): Int = {
      var i = 0
      var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i)
        val cb = b.codePointAt(j)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca)
        j += Character.charCount(cb)
      }
      Integer.compare(a.length - i, b.length - j)
    }
  }

  /** A trained model: pieces sorted under [[CanonicalOrder]] (the
    * canonical order every consumer sees) with their quantized costs,
    * plus the unknown-code-point cost. `byteFallback` selects the id
    * serialization's OOV story (persisted as `oov=` in the layout):
    * false = `unkid` (unknown cp → the one reserved id `|pieces|`), true
    * = `bytes` (unknown cp → its UTF-8 bytes through the reserved byte
    * tier `|pieces|..|pieces|+255` — SentencePiece's `byte_fallback`
    * convention, which makes the serialization OOV-impossible).
    */
  final case class Model(
      pieces: Array[String], lpE4: Array[Long], unkLpE4: Long,
      byteFallback: Boolean = false) {
    require(pieces.length == lpE4.length, "pieces/lpE4 length mismatch")
    require(
      pieces.length < 2 ||
        (1 until pieces.length).forall(i =>
          CanonicalOrder.compare(pieces(i - 1), pieces(i)) < 0),
      "pieces must be strictly sorted under the canonical (code-point) collation")

    /** The reserved OOV id — one past the last piece id (`oov=unkid`
      * layout story): ids 0..|pieces|-1 are the canonical-order pieces. */
    def unkId: Int = pieces.length

    /** Reserved byte-tier id of byte `b` (`oov=bytes` story). */
    def byteId(b: Int): Int = pieces.length + b
  }

  private def isSingleCp(s: String): Boolean = s.codePointCount(0, s.length) == 1

  /** EM-trained unigram model over a word-frequency dictionary. Seeding:
    * every single code point (mandatory — they guarantee each training
    * word segments) plus the top `vocabSize·seedFactor` multi-cp
    * substrings (length ≤ `maxPieceLen` code points) by
    * frequency-weighted occurrence count.
    */
  def trainFromDictionary(
      dictionary: Seq[(String, Long)],
      vocabSize: Int = 512,
      maxPieceLen: Int = 6,
      seedFactor: Int = 4,
      emIters: Int = 2): Model = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxPieceLen >= 1 && seedFactor >= 1 && emIters >= 1,
      "maxPieceLen/seedFactor/emIters must all be >= 1")
    val words = dictionary.iterator
      .map { case (w, f) => (Bpe.toSymbols(w), f) }
      .filter(_._1.nonEmpty).toArray
    require(words.nonEmpty, "unigram training needs a non-empty dictionary")

    // frequency-weighted substring occurrence counts (overlapping included)
    val occ = new java.util.HashMap[String, java.lang.Long]()
    words.foreach { case (cps, f) =>
      var i = 0
      while (i < cps.length) {
        val sb = new java.lang.StringBuilder
        var j = i
        while (j < cps.length && j - i < maxPieceLen) {
          sb.append(cps(j))
          val s = sb.toString
          val prev = occ.get(s)
          occ.put(s, java.lang.Long.valueOf(if (prev == null) f else prev.longValue() + f))
          j += 1
        }
        i += 1
      }
    }
    val all = {
      val b = Array.newBuilder[(String, Long)]
      occ.forEach((k, v) => b += (k -> v.longValue()))
      b.result()
    }
    val chars =
      all.iterator.map(_._1).filter(isSingleCp).toArray.sorted(CanonicalOrder)
    val multiSeedTarget =
      math.max(0L, vocabSize.toLong * seedFactor - chars.length).toInt
    val multiSeed = all.iterator.filterNot(t => isSingleCp(t._1)).toArray
      .sortBy { case (p, c) => (-c, p) }
      .take(multiSeedTarget).map(_._1)

    var pieces: Array[String] = (chars ++ multiSeed).sorted(CanonicalOrder)
    var lp: Array[Double] = {
      val raw = pieces.map(p => occ.get(p).longValue().toDouble)
      val logTotal = StrictMath.log(raw.sum)
      raw.map(c => StrictMath.log(c) - logTotal)
    }

    /** One forward-backward E-step: expected piece counts over every
      * word's lattice under the current `lp`, aligned to `pieces`.
      * Deterministic: words, pieces and lattice edges iterate in fixed
      * order; every word segments because single cps are always pieces.
      */
    def eStep(): Array[Double] = {
      val idx = new java.util.HashMap[String, Integer](pieces.length * 2)
      var k = 0
      while (k < pieces.length) { idx.put(pieces(k), Integer.valueOf(k)); k += 1 }
      val expected = new Array[Double](pieces.length)
      val terms = new Array[Double](maxPieceLen)
      def lse(nTerms: Int): Double = {
        var m = Double.NegativeInfinity
        var t = 0
        while (t < nTerms) { if (terms(t) > m) m = terms(t); t += 1 }
        if (m == Double.NegativeInfinity) m
        else {
          var s = 0.0
          t = 0
          while (t < nTerms) { s += StrictMath.exp(terms(t) - m); t += 1 }
          m + StrictMath.log(s)
        }
      }
      words.foreach { case (cps, f) =>
        val n = cps.length
        val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
        val beta = Array.fill(n + 1)(Double.NegativeInfinity)
        alpha(0) = 0.0
        beta(n) = 0.0
        var j = 1
        while (j <= n) {
          var nt = 0
          var i = math.max(0, j - maxPieceLen)
          while (i < j) {
            if (alpha(i) != Double.NegativeInfinity) {
              val pi = idx.get(cps.slice(i, j).mkString)
              if (pi != null) { terms(nt) = alpha(i) + lp(pi.intValue()); nt += 1 }
            }
            i += 1
          }
          alpha(j) = lse(nt)
          j += 1
        }
        var i = n - 1
        while (i >= 0) {
          var nt = 0
          var j2 = i + 1
          while (j2 <= math.min(n, i + maxPieceLen)) {
            if (beta(j2) != Double.NegativeInfinity) {
              val pi = idx.get(cps.slice(i, j2).mkString)
              if (pi != null) { terms(nt) = lp(pi.intValue()) + beta(j2); nt += 1 }
            }
            j2 += 1
          }
          beta(i) = lse(nt)
          i -= 1
        }
        val z = alpha(n)
        i = 0
        while (i < n) {
          var j3 = i + 1
          while (j3 <= math.min(n, i + maxPieceLen)) {
            val pi = idx.get(cps.slice(i, j3).mkString)
            if (pi != null) {
              expected(pi.intValue()) +=
                f * StrictMath.exp(alpha(i) + lp(pi.intValue()) + beta(j3) - z)
            }
            j3 += 1
          }
          i += 1
        }
      }
      expected
    }

    def runEm(): Array[Double] = {
      var it = 0
      var exp: Array[Double] = null
      while (it < emIters) {
        exp = eStep()
        val logTotal = StrictMath.log(exp.sum)
        var k = 0
        while (k < lp.length) {
          // floor: a piece whose expected count underflows to 0.0 (very
          // rare pieces in long words) would otherwise get lp = -Inf,
          // quantize to Long.MaxValue and wrap unkLpE4 negative — making
          // unknown code points the CHEAPEST edge everywhere (r14 advice)
          lp(k) = StrictMath.log(math.max(exp(k), EmExpectedFloor)) - logTotal
          k += 1
        }
        it += 1
      }
      exp
    }

    val targetMulti = math.max(0, vocabSize - chars.length)
    var multiCount = pieces.length - chars.length
    while (multiCount > targetMulti) {
      val exp = runEm()
      val expByName = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
      var k = 0
      while (k < pieces.length) {
        expByName.put(pieces(k), java.lang.Double.valueOf(exp(k)))
        k += 1
      }
      val keepMulti = math.max(targetMulti, multiCount * 3 / 4)
      val keptMulti = pieces.iterator.filterNot(isSingleCp)
        .map(p => (p, expByName.get(p).doubleValue()))
        .toArray
        .sortBy { case (p, e) => (-e, p) }
        .take(keepMulti).map(_._1)
      pieces = (chars ++ keptMulti).sorted(CanonicalOrder)
      multiCount = keptMulti.length
      // survivors' expected counts, renormalized, seed the next round
      // (same zero-count floor as runEm's M-step)
      val counts = pieces.map(p => expByName.get(p).doubleValue())
      val logTotal = StrictMath.log(counts.sum)
      lp = counts.map(c => StrictMath.log(math.max(c, EmExpectedFloor)) - logTotal)
    }
    runEm() // final probability estimate on the settled vocabulary

    val lpE4 = lp.map(v => math.round(-(v / StrictMath.log(2.0)) * 10000.0))
    // the floor bounds every cost (≤ ~28 nats under the floor + corpus
    // log-total) — a non-finite or ballooned value here means the floor
    // was bypassed and unkLpE4 would overflow; fail the train, never
    // publish a model whose unknown edge is cheapest (r14 advice)
    require(lpE4.forall(c => c >= 0L && c < Long.MaxValue / 4),
      s"piece cost out of range after EM (max=${lpE4.max}) — zero-expected floor bypassed")
    Model(pieces, lpE4, unkLpE4 = lpE4.max + 40000L)
  }

  // ------------------------------------------------------------------- io

  /** Persist a trained model: the piece table as a versioned single-file
    * parquet plus the unknown cost in the layout sidecar. Published
    * through [[graft.sinks.Sinks.replaceTable]] (the BM25 artifact protocol
    * — r14 advice): pieces and unk cost swap in atomically, so a crash
    * mid-write over an existing model can never leave NEW pieces paired
    * with the OLD layout's unk cost (readModel would accept that pair as
    * a consistent model).
    */
  def writeModel(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    graft.sinks.Sinks.replaceTable(spark, path) { stage =>
      model.pieces.zip(model.lpE4).toSeq.toDF("piece", "lp_e4")
        .coalesce(1).write.parquet(s"$stage/pieces")
      val oov = if (model.byteFallback) "bytes" else "unkid"
      IndexProtocol.writeLayout(spark, stage,
        "unk" -> model.unkLpE4, "uni" -> Version, "oov" -> oov)
    }
  }

  def readModel(spark: SparkSession, path: String): Model = {
    val layout = IndexProtocol.readLayout(spark, path)
    layout.requireScheme("uni", Version, "unigram model")
    val story = layout.fields.getOrElse("oov", "<absent>")
    require(story == "unkid" || story == "bytes",
      s"unigram model at $path declares OOV story '$story' — this build serves " +
        "oov=unkid (unknown cp → reserved id |pieces|) and oov=bytes (unknown " +
        "cp → UTF-8 bytes through the reserved tier |pieces|..|pieces|+255)")
    // canonical order re-established DRIVER-SIDE under the one pinned
    // collation — not via Spark orderBy, so the id assignment cannot
    // drift with the session's collation semantics
    val rows = spark.read.parquet(s"$path/pieces")
      .collect().map(r => (r.getAs[String]("piece"), r.getAs[Long]("lp_e4")))
      .sortBy(_._1)(CanonicalOrder)
    Model(rows.map(_._1), rows.map(_._2), layout.long("unk"),
      byteFallback = story == "bytes")
  }

  // ---------------------------------------------------------------- serve

  /** `struct(n_tokens, n_unk, nll_e4, tokens)` per document — the
    * production Viterbi encode as one codegen map pass, the model as a
    * plan constant.
    */
  def encodeStats(text: Column, model: Model): Column =
    ColumnBridge.column(UnigramEncodeStats(
      ColumnBridge.expression(text), model.pieces, model.lpE4, model.unkLpE4))

  /** `struct(n_tokens, n_oov, ids)` — the production id-encode (q126),
    * mirroring [[Bpe.encodeIds]]'s serialization shape: the Viterbi
    * segmentation's pieces mapped to their canonical-order ids, OOV
    * (unknown single code points) as the reserved `|pieces|` id counted
    * in `n_oov`, ids space-joined (the cross-engine render). One codegen
    * pass, the model as a plan constant.
    */
  def encodeIds(text: Column, model: Model): Column =
    ColumnBridge.column(UnigramEncodeIds(
      ColumnBridge.expression(text), model.pieces, model.lpE4, model.unkLpE4,
      model.byteFallback))

  // ---------------------------------------------------------------- naive

  /** Textbook Viterbi over one word — the independently-structured
    * differential reference: immutable prefix cells built by a fold,
    * candidate selection via declarative minBy on (cost, start), the same
    * tie contract as the production loop expressed the opposite way.
    */
  private[graft] def naiveDecodeWord(
      word: String, lp: Map[String, Long], unkLpE4: Long, maxLen: Int): List[String] = {
    val cps = Bpe.toSymbols(word).toVector
    if (cps.isEmpty) return Nil
    final case class Cell(cost: Long, path: List[String])
    val cells = (1 to cps.length).foldLeft(Vector(Cell(0L, Nil))) { (acc, j) =>
      val candidates = (math.max(0, j - maxLen) until j).flatMap { i =>
        val piece = cps.slice(i, j).mkString
        lp.get(piece).map(v => (acc(i).cost + v, i, piece))
          .orElse(if (j - i == 1) Some((acc(i).cost + unkLpE4, i, piece)) else None)
      }
      val (cost, i, piece) = candidates.minBy(t => (t._1, t._2))
      acc :+ Cell(cost, piece :: acc(i).path)
    }
    cells.last.path.reverse
  }

  /** Distributed expected table for the q121 differential: the naive
    * encoder's (n_tokens, n_unk, nll_e4, tokens) per document, persisted
    * at fixture-build time and joined by the DuckDB oracle.
    */
  private[graft] def naiveTable(
      docs: DataFrame, textCol: String, idCol: String, model: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pieces = model.pieces
    val lpE4 = model.lpE4
    val unk = model.unkLpE4
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val lp = pieces.zip(lpE4).toMap
        val maxLen = pieces.iterator.map(p => p.codePointCount(0, p.length))
          .foldLeft(1)(math.max)
        it.map { case (id, text) =>
          val tokens = (if (text == null) "" else text).split(" ", -1).toList
            .filter(_.nonEmpty)
            .flatMap(w => naiveDecodeWord(w, lp, unk, maxLen))
          val nUnk = tokens.count(t => !lp.contains(t))
          val nll = tokens.map(t => lp.getOrElse(t, unk)).sum
          (id, tokens.size.toLong, nUnk.toLong, nll, tokens.mkString(" "))
        }
      }
      .toDF(idCol, "n_tokens", "n_unk", "nll_e4", "tokens")
  }

  /** Distributed expected-IDS table for the q126 differential (the q105
    * discipline extended to the unigram family): [[naiveDecodeWord]]'s
    * segmentation mapped through an immutable `Map[piece → id]` built from
    * the canonical order by `zipWithIndex` — structurally independent of
    * the production encoder's binary search over the sorted array — with
    * OOV as the reserved `|pieces|` id. Persisted at fixture-build time
    * and joined by the DuckDB oracle.
    */
  private[graft] def naiveIdTable(
      docs: DataFrame, textCol: String, idCol: String, model: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pieces = model.pieces
    val lpE4 = model.lpE4
    val unk = model.unkLpE4
    val bytes = model.byteFallback
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val lp = pieces.zip(lpE4).toMap
        val pieceId = pieces.zipWithIndex.toMap
        val unkId = pieces.length
        val maxLen = pieces.iterator.map(p => p.codePointCount(0, p.length))
          .foldLeft(1)(math.max)
        it.map { case (id, text) =>
          val tokens = (if (text == null) "" else text).split(" ", -1).toList
            .filter(_.nonEmpty)
            .flatMap(w => naiveDecodeWord(w, lp, unk, maxLen))
          // (id, isFallback) stream — the unkid story emits the one
          // reserved id; the bytes story decomposes through the tier
          val ids = tokens.flatMap { t =>
            pieceId.get(t) match {
              case Some(i) => List((i, false))
              case None if bytes => t
                .getBytes(java.nio.charset.StandardCharsets.UTF_8).toList
                .map(b => (unkId + (b & 0xff), true))
              case None => List((unkId, true))
            }
          }
          (id, ids.size.toLong, ids.count(_._2).toLong,
            ids.map(_._1).mkString(" "))
        }
      }
      .toDF(idCol, "n_tokens", "n_oov", "ids")
  }
}

/** Shared runtime for [[UnigramEncodeStats]]: the piece table as a hash
  * map + the Viterbi scratch loop, shipped once per task as a plan
  * constant (addReferenceObj — the [[BpeEncoder]] transport).
  */
private[graft] class UnigramEncoder(
    pieces: Array[String], lpE4: Array[Long], unkLpE4: Long,
    byteFallback: Boolean = false) extends Serializable {
  // One map carries BOTH per-piece facts, packed (lp << 32 | id): the r16
  // shape looked every final token up TWICE — once in the lp map inside
  // the lattice, then again by binary search to mint its id. lp_e4 is
  // −10⁴·log₂ p ≤ ~10⁶ and ids are array indexes, so the pack is exact.
  @transient private lazy val table = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    var i = 0
    while (i < pieces.length) {
      require(lpE4(i) >= 0 && lpE4(i) < (1L << 31), s"lp_e4 out of pack range: ${lpE4(i)}")
      m.put(pieces(i), java.lang.Long.valueOf((lpE4(i) << 32) | i.toLong))
      i += 1
    }
    m
  }
  @transient private lazy val maxLen = {
    var m = 1
    var i = 0
    while (i < pieces.length) {
      val l = pieces(i).codePointCount(0, pieces(i).length)
      if (l > m) m = l
      i += 1
    }
    m
  }
  // Per-word Viterbi memo (word → cut offsets): corpus word frequencies
  // are Zipfian, so most lattice runs in a partition repeat earlier words
  // verbatim. Thread-local (an expression instance may be evaluated from
  // more than one thread in interpreted/driver paths), bounded — cleared
  // when full, so per-task state stays a few MB regardless of corpus size.
  @transient private lazy val memo =
    new ThreadLocal[java.util.HashMap[String, Array[Int]]] {
      override def initialValue() = new java.util.HashMap[String, Array[Int]]()
    }
  private val MemoMax = 1 << 15

  /** UTF-16 offsets of the word's code-point boundaries:
    * offs(0)=0 … offs(codePointCount)=word.length.
    */
  private def cpOffsets(word: String): Array[Int] = {
    val offs = new Array[Int](word.codePointCount(0, word.length) + 1)
    var i = 0
    var k = 0
    while (i < word.length) {
      offs(k) = i
      i += Character.charCount(word.codePointAt(i))
      k += 1
    }
    offs(k) = word.length
    offs
  }

  /** Viterbi over one word; returns the segmentation as UTF-16 cut
    * offsets (bounds(0)=0 … bounds(last)=word.length — piece k is
    * word.substring(bounds(k), bounds(k+1))). Ties break to the smallest
    * start index (longest final piece): the `<` below is strict and `i`
    * ascends, so the first minimal predecessor wins — bit-identical to
    * the r16 per-piece-string formulation, but each lattice cell costs
    * one substring instead of a code-point array slice + re-join, and
    * repeated words hit the memo instead of the lattice.
    */
  private def decodeCuts(word: String): Array[Int] = {
    val m = memo.get()
    val hit = m.get(word)
    if (hit != null) return hit
    val offs = cpOffsets(word)
    val n = offs.length - 1
    val inf = Long.MaxValue / 4
    val cost = Array.fill(n + 1)(inf)
    val from = new Array[Int](n + 1)
    cost(0) = 0L
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxLen)
      while (i < j) {
        if (cost(i) < inf) {
          val piece = word.substring(offs(i), offs(j))
          val v = table.get(piece)
          if (v != null) {
            val c = cost(i) + (v.longValue() >>> 32)
            if (c < cost(j)) { cost(j) = c; from(j) = i }
          } else if (j - i == 1) {
            val c = cost(i) + unkLpE4
            if (c < cost(j)) { cost(j) = c; from(j) = i }
          }
        }
        i += 1
      }
      j += 1
    }
    // backtrack (cost(n) < inf always: single cps are always edges)
    var cuts = List(n)
    var p = n
    while (p > 0) { p = from(p); cuts = p :: cuts }
    val bounds = cuts.toArray
    var k = 0
    while (k < bounds.length) { bounds(k) = offs(bounds(k)); k += 1 }
    if (m.size >= MemoMax) m.clear()
    m.put(word, bounds)
    bounds
  }

  /** (n_tokens, n_oov, space-joined ids) over the whole text — the id
    * render of the SAME segmentation [[stats]] emits: piece id = index in
    * the canonical sorted piece array (carried in [[table]] under the
    * SAME pinned collation — the array IS the vocabulary). An unknown
    * single cp emits the reserved id `pieces.length` (`oov=unkid`), or —
    * under `byteFallback` (`oov=bytes`) — one id per UTF-8 byte through
    * the reserved tier `pieces.length + b`, each counted in BOTH n_tokens
    * (serialization length) and n_oov (fallback mass).
    */
  def ids(text: UTF8String): InternalRow = {
    val words = text.toString.split(" ", -1)
    var n = 0L
    var oov = 0L
    val out = new java.lang.StringBuilder
    def emit(id: Int): Unit = {
      if (n > 0) out.append(' ')
      out.append(id)
      n += 1
    }
    var w = 0
    while (w < words.length) {
      if (words(w).nonEmpty) {
        val bounds = decodeCuts(words(w))
        var t = 0
        while (t < bounds.length - 1) {
          val piece = words(w).substring(bounds(t), bounds(t + 1))
          val v = table.get(piece)
          if (v != null) emit((v.longValue() & 0xffffffffL).toInt)
          else if (!byteFallback) { oov += 1; emit(pieces.length) }
          else {
            val bytes = piece.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            var j = 0
            while (j < bytes.length) {
              oov += 1
              emit(pieces.length + (bytes(j) & 0xff))
              j += 1
            }
          }
          t += 1
        }
      }
      w += 1
    }
    new GenericInternalRow(Array[Any](n, oov, UTF8String.fromString(out.toString)))
  }

  /** (n_tokens, n_unk, nll_e4, space-joined tokens) over the whole text. */
  def stats(text: UTF8String): InternalRow = {
    val words = text.toString.split(" ", -1)
    var n = 0L
    var unk = 0L
    var nll = 0L
    val out = new java.lang.StringBuilder
    var w = 0
    while (w < words.length) {
      if (words(w).nonEmpty) {
        val bounds = decodeCuts(words(w))
        var t = 0
        while (t < bounds.length - 1) {
          val piece = words(w).substring(bounds(t), bounds(t + 1))
          val v = table.get(piece)
          if (v != null) nll += (v.longValue() >>> 32)
          else { unk += 1; nll += unkLpE4 }
          if (n > 0) out.append(' ')
          out.append(piece)
          n += 1
          t += 1
        }
      }
      w += 1
    }
    new GenericInternalRow(Array[Any](n, unk, nll, UTF8String.fromString(out.toString)))
  }
}

/** `unigram_encode(string)` → `struct<n_tokens:bigint, n_unk:bigint,
  * nll_e4:bigint, tokens:string>`: see [[Unigram.encodeStats]].
  */
case class UnigramEncodeStats(
    child: Expression, pieces: Array[String], lpE4: Array[Long], unkLpE4: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unigram_encode requires string, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_unk", LongType, nullable = false),
    StructField("nll_e4", LongType, nullable = false),
    StructField("tokens", StringType, nullable = false)))
  override def prettyName: String = "unigram_encode"

  @transient private lazy val encoder = new UnigramEncoder(pieces, lpE4, unkLpE4)

  override protected def nullSafeEval(v: Any): Any =
    encoder.stats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val enc = ctx.addReferenceObj("unigramEncoder", encoder, classOf[UnigramEncoder].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $enc.stats($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `unigram_encode_ids(string)` → `struct<n_tokens:bigint, n_oov:bigint,
  * ids:string>`: see [[Unigram.encodeIds]]. Same shared-encoder codegen
  * transport as [[UnigramEncodeStats]] — the segmentation loop stays
  * compiled Scala, the expression participates in whole-stage codegen.
  */
case class UnigramEncodeIds(
    child: Expression, pieces: Array[String], lpE4: Array[Long], unkLpE4: Long,
    byteFallback: Boolean = false)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unigram_encode_ids requires string, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_oov", LongType, nullable = false),
    StructField("ids", StringType, nullable = false)))
  override def prettyName: String = "unigram_encode_ids"

  @transient private lazy val encoder = new UnigramEncoder(pieces, lpE4, unkLpE4, byteFallback)

  override protected def nullSafeEval(v: Any): Any =
    encoder.ids(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val enc = ctx.addReferenceObj("unigramEncoder", encoder, classOf[UnigramEncoder].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $enc.ids($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
