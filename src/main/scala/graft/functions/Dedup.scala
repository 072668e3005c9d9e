package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash-groupBy),
  * MinHash+LSH banding, SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every variant reduces to (a) a narrow per-row signature
  * projection, then (b) an equi-shuffle on a SMALL key (16-byte md5, a band
  * hash, or a 64-bit simhash) — never a shuffle of document text, and never a
  * cross join. Candidate verification joins back by doc id.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content fingerprint with the
    * deterministic representative (min doc id) and the duplicate count.
    * Map-side partial aggregation applies; the shuffle carries only
    * (fingerprint, min_id, count).
    */
  def exactGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .withColumn("fp", Text.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("dup_cnt"))

  /** Deterministic 64-bit token hash derived from md5 (first 15 hex chars →
    * 60 bits). Portable: any engine with md5 + hex parsing reproduces it.
    */
  def tokenHash64(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** JVM-side twin of [[tokenHash64]] (driver/test-side derivations —
    * e.g. hand-computing a [[Kmv]] k-th minimum).
    */
  def tokenHash64Jvm(tok: String): Long =
    java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(tok).substring(0, 15), 16)

  /** The (aᵢ, bᵢ) coefficients of MinHash permutation i, derived from the
    * seed with a splitmix-style mixer. Exposed so the DuckDB oracle SQL can
    * be generated with the identical constants.
    */
  def minhashCoeffs(i: Int, seed: Long): (Long, Long) = {
    def mix(salt: Long): Long = {
      var z = seed + i.toLong * 0x9E3779B97F4A7C15L + salt
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      val m = math.abs(z ^ (z >>> 31)) % minhashP
      // math.abs(Long.MinValue) is NEGATIVE (two's complement has no
      // positive counterpart), so m can be negative with prob 2^-64 —
      // fold it back into [0, p)
      if (m < 0) m + minhashP else m
    }
    // `mix | 1` lands in [1, p] — and a = p ≡ 0 (mod p) is a DEGENERATE
    // permutation (h·0 + b collapses position i to the constant b for
    // every document, silently inflating est_jaccard by 1/nHashes).
    // Remap that one value; all non-degenerate coefficients (every
    // realistic seed) are unchanged, so existing signatures/oracles hold.
    val a0 = mix(0x51AB4D2EL) | 1L // a odd and non-zero
    (if (a0 == minhashP) 1L else a0, mix(0x7F4E6C3DL))
  }

  /** 2^31 − 1, the Mersenne prime all MinHash permutations reduce modulo. */
  val minhashP: Long = 2147483647L

  /** MinHash signatures, computed per row by the native
    * [[MinHashSignature]] expression: the signature is a pure function of
    * a document's own token array, so no explode, no aggregate, and no
    * shuffle — one codegen'd loop per row (round-9 verdict: the previous
    * explode → 64 `pmod` → HashAggregate-of-64-`min`s shape materialized
    * one row per token and paid partial-agg machinery for what a single
    * pass computes in place; it was the top cost of the suite's two
    * heaviest queries). Values are bit-equal to the aggregate form — the
    * DuckDB oracles replicating it token by token are unchanged.
    *
    * Rows whose token array is null (null text) produce a null signature
    * and are filtered, matching the explode form's behavior of dropping
    * them (no token rows → no group).
    */
  def minhashSignatures(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      nHashes: Int,
      seed: Long): DataFrame =
    docs.select(
        col(idCol).as("id"),
        MinHash.signatureNative(Text.tokens(col(textCol)), nHashes, seed).as("sig"))
      .filter(col("sig").isNotNull)

  /** MinHash/LSH near-duplicate candidate pairs with estimated Jaccard
    * (fraction of matching signature positions), filtered to
    * `minEstJaccard`.
    *
    * Plan shape, all codegen'd, no array HOFs:
    *   [[minhashSignatures]] → band keys (md5 over the band's slice of the
    *   signature array) → explode bands → equi-shuffle on band key → pair
    *   join on (band, id<id) carrying ONLY the two ids → distinct pairs →
    *   join the signature arrays back (twice) → agreement =
    *   Σ when(sig_a[i] = sig_b[i], 1) / n.
    *
    * Deduplicating pairs BEFORE attaching signatures matters: a pair that
    * collides in k bands would otherwise pay the agreement computation k
    * times and drag two 128-long signatures through the band shuffle.
    *
    * Parameter choice is the scale lever: the LSH match threshold is
    * ≈ (1/nBands)^(1/rowsPerBand); the defaults (4 bands × 16 rows) target
    * ~0.92, so even on a corpus whose AVERAGE pairwise Jaccard is 0.6+
    * (worst case for banding) the candidate set stays a small fraction of
    * n² instead of degenerating to the full cross product. 64 hashes halve
    * the signature-aggregation cost vs the earlier 128 at an equal banding
    * threshold (4×16 ≈ 0.92 vs 4×32 ≈ 0.96) — the estimator's std-dev at
    * j=0.9 grows only from 0.027 to 0.038, well inside the 0.9 gate's
    * tolerance for this family's use (candidate filtering, not measurement).
    */
  /** `maxBandBucket` is the hot-bucket escape valve (same contract as
    * [[Similarity.lshCandidatePairs]]'s `maxBucketSize`): a band bucket of
    * b members emits b(b−1)/2 pairs, so one degenerate cluster of
    * near-identical boilerplate turns the band join quadratic. Buckets
    * above the cap are excluded from pair generation — exact-dedup owns
    * the identical-content case and should run first. The default is
    * uncapped, which preserves exhaustive pair semantics (and oracle
    * parity); production corpus-scale runs should set a cap.
    */
  /** The band-key columns over a signature array column named `sig` — md5
    * over `_`-joined (band index, band's signature slice). SINGLE SOURCE
    * for [[minhashCandidates]], the persisted band-index build
    * ([[bandIndexRows]]) and its probe ([[dedupAgainstBandIndex]]): the
    * probe must derive bit-identical keys to the index or collisions are
    * silently missed — the same drift hazard the `_GRAFT_LAYOUT` modulus
    * machinery guards against, applied to the key construction itself
    * (review finding: three hand-copied variants of this expression).
    *
    * Also the single place the band geometry is validated: `nBands` must
    * divide `nHashes` — a truncating `nHashes / nBands` would silently
    * ignore trailing signature positions, and `nBands > nHashes`
    * (rowsPerBand = 0) would give EVERY document the identical band keys,
    * degenerating the band self-join to a full cross product and index
    * probes to all-of-history collisions.
    *
    * The key is the RAW 16-byte digest (`unhex(md5(...))`), not md5's
    * 32-char hex rendering (r17 verdict #1): band keys exist only to be
    * exploded, shuffled/broadcast and equi-joined — the dominant shuffle
    * payload of the near-dup family at corpus scale — and `unhex` is a
    * bijection of the hex string (equality on bytes ⟺ equality on hex),
    * so the candidate set is PROVABLY identical while the per-key payload
    * halves (16 B binary vs 32-char UTF8String). Guide §2.3 (narrower
    * types). The oracles still derive band keys as hex md5 and join on
    * equality, which the bijection preserves verbatim.
    */
  private def bandKeyCols(nHashes: Int, nBands: Int): Seq[Column] = {
    require(nBands > 0 && nHashes % nBands == 0,
      s"nBands ($nBands) must be positive and divide nHashes ($nHashes)")
    val rowsPerBand = nHashes / nBands
    (0 until nBands).map { b =>
      unhex(md5(concat_ws("_",
        lit(b) +: (0 until rowsPerBand).map(r => col("sig").getItem(b * rowsPerBand + r)): _*)))
    }
  }

  def minhashCandidates(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      nHashes: Int = 64,
      nBands: Int = 4,
      minEstJaccard: Double = 0.9,
      seed: Long = 42L,
      maxBandBucket: Int = Int.MaxValue): DataFrame = {
    // The signature table feeds FOUR plan branches (two band-join legs, two
    // signature re-joins); pin it so the signature computation runs once.
    // localCheckpoint, NOT persist: a persist() registers the plan in the
    // session's CacheManager, which holds it until an explicit unpersist —
    // and this function returns a lazy result, so there is no safe point
    // to unpersist inside it (each call from a long-lived session would
    // leak one cached relation, the exact failure mode [[localized]]'s doc
    // describes — review finding). localCheckpoint blocks are owned by the
    // RDD and reclaimed by the ContextCleaner once the result is consumed
    // and the plan garbage-collects. It is stored as ONE array column —
    // every downstream stage then plans over 2-column rows, which keeps
    // the generated code per stage small (the 129-column variant spent
    // more wall-clock compiling codegen for its four wide branches than
    // executing them). Size is n × ~1 KB — negligible against the corpus.
    val sig = minhashSignatures(docs, textCol, idCol, nHashes, seed)
      .localCheckpoint(false)
    val bandCols = bandKeyCols(nHashes, nBands)
    val bandedAll = sig.select(col("id"), explode(array(bandCols: _*)).as("band"))
    val banded =
      if (maxBandBucket == Int.MaxValue) bandedAll
      else bandedAll.join(
        bandedAll.groupBy("band").agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxBandBucket).select("band"),
        Seq("band"))
    val pairs = banded.select(col("band"), col("id").as("a_id"))
      .join(banded.select(col("band"), col("id").as("b_id")), Seq("band"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    // Agreement = positional equality count over the two signature arrays,
    // via the native [[SigAgreeCount]] loop (round 10). The interpreted
    // zip_with this replaces was adopted against a 128-term codegen
    // comparison LADDER (~7 s janino compile); a loop expression has
    // neither cost, and the "bounded candidate set" it banked on is 1.26M
    // pairs at sf0.1 — the word-soup corpus packs over a thousand docs
    // into single band buckets.
    val agree = SigAgree.agreeCount(col("a_sig"), col("b_sig"))
    pairs
      .join(sig.select(col("id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(sig.select(col("id").as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), round(agree.cast("double") / nHashes, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** SimHash fingerprints (60 bits — the span of [[tokenHash64]]): for each
    * bit, distinct-token hashes vote ±1 and the bit is set when the vote sum
    * is positive.
    *
    * Computed per row by the native [[SimHashFingerprint]] expression —
    * the fingerprint is a pure function of the document's own token set,
    * so the previous explode-distinct → 60 conditional-sum HashAggregate
    * shape (one row per distinct token through a shuffle) is replaced by
    * one codegen'd loop per row, bit-equal by construction (the q27
    * DuckDB oracle replicating the vote sums token by token is
    * unchanged). Same rework as [[minhashSignatures]], round-10.
    *
    * Output: (idCol, simhash); rows with null text are dropped, matching
    * the explode form where a null array emitted no rows.
    */
  def simhashSignatures(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      nBits: Int = 60): DataFrame =
    docs
      .select(col(idCol),
        SimHash.fingerprintNative(Text.tokens(col(textCol)), nBits).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Collapse near-duplicate candidate PAIRS into duplicate clusters —
    * the engine's one connected-components algorithm: every document
    * connected through the pair graph gets the cluster's minimum doc id
    * as its representative. Alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") converges in O(log n) rounds on ANY graph shape — including
    * the chain-shaped duplicate graphs (serial near-dups with drift) where
    * min-label propagation degrades to O(n) rounds.
    *
    * Per round, on edges kept oriented large→small:
    *   - large-star: for each center c, every LARGER neighbor re-attaches to
    *     m = min(Γ(c) ∪ {c});
    *   - small-star: for each center u over its smaller neighbors, every
    *     neighbor and u itself attach to m = min(Γ(u)).
    * Both are plain groupBy-min + equi-join — hash primitives only, no
    * graph library; two narrow long-pair shuffles each. Fixed point = a union of
    * stars centered at each component's minimum.
    *
    * Convergence detection costs no extra job: the next edge set is lazily
    * checkpointed and materialized by the full-outer mismatch aggregate
    * itself (exact set comparison, not a hash gamble).
    *
    * Output: (id, rep) for every node in at least one pair, with rep =
    * the component's minimum id (representatives map to themselves);
    * isolated docs are their own trivial cluster and are not emitted.
    *
    * `localFirst` (default ON) runs [[localContract]] — one partition-local
    * union-find pass — before the star rounds. Labels are provably
    * identical either way (spec: "localFirst contraction"); what it buys is
    * wall clock on the dominant near-dup shapes: same-window sf0.1 A/B,
    * q48 5.9→4.8 s, q53 6.1→4.6 s, q51 2.3→1.5 s (−3.4 s across the
    * trio, both runs canary-clean). Off is the escape hatch for a
    * pathological partition whose node set would not fit task memory.
    */
  def duplicateClustersLogN(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      checkpointDir: Option[String] = None,
      localFirst: Boolean = true): DataFrame =
    duplicateClustersLogNWithRounds(pairs, aCol, bCol, checkpointDir, localFirst)._1

  /** [[duplicateClustersLogN]] plus the round count it took to converge —
    * exposed so specs can assert the O(log n) bound instead of trusting it.
    */
  def duplicateClustersLogNWithRounds(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      checkpointDir: Option[String] = None,
      localFirst: Boolean = true): (DataFrame, Int) = {
    // No input distinct: candidate generators already emit distinct pairs,
    // and duplicates are harmless here anyway — every round's output is
    // distinct-ed, and round 1's min-aggregates are duplicate-insensitive —
    // so a distinct of the LARGEST relation in the computation would buy
    // nothing but its own shuffle. Lazy checkpoint: the sizing count() in
    // withIterationPartitions is the action that materializes it.
    val pin = new Pinner(pairs.sparkSession, checkpointDir)
    var edges = isolatedCopy(pin(pairs
      .select(greatest(col(aCol), col(bCol)).as("u"), least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")), false))
    withIterationPartitions(edges) {
      // The exact star-set fixed-point test (Kiveris et al.): the edge set
      // is a union of min-rooted stars iff every source u appears exactly
      // once (count == countDistinct(u)) AND no target is also a source
      // (else that target chains two stars). Shared by the in-loop
      // convergence check and the post-contraction pre-check below; the
      // degree aggregate is the one unconditional action (it materializes
      // the relation's lazy checkpoint), the semi-join probe runs only when
      // the degree test already passed.
      def isStarSet(e: DataFrame): Boolean = {
        val deg = e.agg(count(lit(1)).as("n"), countDistinct(col("u")).as("nu")).first()
        deg.getLong(0) == deg.getLong(1) && {
          e.select(col("v"))
            .join(e.select(col("u").as("v")), Seq("v"), "left_semi")
            .isEmpty
        }
      }
      var preConverged = false
      if (localFirst) {
        // Two contraction passes (r18): pass 1 co-locates by source (the
        // r17 pre-round), pass 2 re-keys the CONTRACTED edge set — by then
        // orders of magnitude smaller than the input — by BOTH endpoints,
        // so roots that pass 1 left chained across partitions (node x
        // emitted toward different partition-local roots, root-of-root
        // links) merge wherever they co-locate. Connectivity is preserved
        // exactly by both passes (union-find merges only existing paths),
        // and if the result already IS a star set the star rounds are
        // skipped outright — min-root union keeps v < u on every edge, so
        // a star's root is necessarily its component's minimum and the
        // labels are identical to what the loop would output (r17 verdict
        // #2; sf0.1 A/B: q48's edge set contracts 815k → 12.9k → 3.1k rows
        // and passes the star test, replacing 2 full star rounds — ~6
        // edge-set exchanges plus per-round actions — with one pass over
        // the 12.9k-row contracted set and the same exact test the loop
        // runs anyway).
        edges = pin(localContract(edges, symmetrize = false), false)
        edges = pin(localContract(edges, symmetrize = true), false)
        preConverged = isStarSet(edges)
      }
      var rounds = 0
      var converged = preConverged
      while (!converged) {
        // large-star: symmetrize, take per-center min over neighbors ∪ self,
        // re-attach the larger neighbors. Output stays (big, small) oriented
        // because m ≤ c < n.
        // ONE exchange per star phase (guide §2.4 — operations keyed the
        // same way share it): `sym`/`afterLarge` are each consumed by a
        // min-aggregate AND an equi-join on the SAME key, and the dedup's
        // ClusteredDistribution((u,v)) is satisfied by hash(u) too, so an
        // explicit repartition on the phase key lets the aggregate, the
        // dedup and the join all run exchange-free on top of it — the r16
        // shape paid a separate exchange for each (~5 edge-set shuffles a
        // round; r17 A/B on the pinned-pairs CC: 1.82 → 1.28 s at sf0.1).
        // Values are unchanged: dropDuplicates == distinct, and min/join
        // results don't depend on partitioning.
        val sym = edges.select(col("u").as("c"), col("v").as("n"))
          .unionByName(edges.select(col("v").as("c"), col("u").as("n")))
          .repartition(col("c"))
        val largeMin = sym.groupBy("c")
          .agg(min(col("n")).as("mn"))
          .select(col("c"), least(col("mn"), col("c")).as("m"))
        val afterLarge = sym.join(largeMin, Seq("c"))
          .filter(col("n") > col("c"))
          .select(col("n").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .repartition(col("u"))
          .dropDuplicates("u", "v")
        // small-star: neighbors of u here are all smaller, so
        // m = min(Γ(u)); attach every neighbor (and u) to m.
        val smallMin = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
        val next = afterLarge.join(smallMin, Seq("u"))
          .select(col("v").as("u2"), col("m").as("v2"))
          .filter(col("u2") =!= col("v2"))
          .unionByName(smallMin.select(col("u").as("u2"), col("m").as("v2")))
          .select(col("u2").as("u"), col("v2").as("v"))
          .distinct()
          .transform(df => pin(df, false))
        // Convergence: the loop's fixed points are exactly the unions of
        // min-rooted stars (Kiveris et al.), and star-ness is testable on
        // the round's OUTPUT directly via [[isStarSet]] (next is distinct,
        // so the count==countDistinct(u) form applies). The r16
        // formulation instead compared next against the PREVIOUS round's
        // edges (exact full-outer mismatch), which only observes the fixed
        // point one full star round AFTER producing it — a pure
        // confirmation round, ~4 shuffles of the whole edge set (r17
        // measurement: q48/q53/q51/q81 all converge one round earlier,
        // sf0.1 rounds 3 → 2).
        val starSet = isStarSet(next)
        edges = next.select("u", "v")
        rounds += 1
        converged = starSet
      }
      val labels = edges.select(col("u").as("id"), col("v").as("rep"))
        .unionByName(edges.select(col("v").as("id"), col("v").as("rep")).distinct())
      (labels, rounds)
    }
  }

  /** Partition-local union-find contraction — the optional pre-round of the
    * star loop (`localFirst`), the standard MapReduce-CC accelerator
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — their "local contraction" step). One shuffle co-locates
    * edges by `u`; an in-partition union-find then replaces each
    * partition's edge set with (node → partition-local min-root) star
    * edges. Connectivity is preserved EXACTLY — contraction only merges
    * paths that already exist inside one partition — so the loop's output
    * labels are identical with or without it; what changes is the shape
    * entering round 1: dense blocks (cliques from near-dup groups, the
    * dominant shape LSH banding emits) collapse to stars immediately
    * instead of across two star rounds.
    *
    * Memory bound: one LongMap entry (~16 B + load factor) per distinct
    * node per partition. Partition count comes from the iteration sizing
    * ([[withIterationPartitions]], ~100k edge rows a partition), so the
    * per-task map stays in the small-MB range regardless of graph size;
    * at corpus scale the hash partitioner spreads nodes uniformly and no
    * partition ever holds more nodes than edges.
    *
    * `mapPartitions` is justified here the same way the multimodal codecs
    * justify it: union-find's path compression is genuinely imperative
    * per-partition state no Catalyst expression expresses, and the
    * alternative IS the extra star rounds this step removes.
    *
    * `symmetrize` (r18, the pre-convergence second pass): route every edge
    * to BOTH endpoints' partitions (emit (u,v) and (v,u) before the by-key
    * shuffle) so each node's OWNER partition sees its full incidence list —
    * chains pass 1 left across partition boundaries (a node emitted toward
    * two different partition-local roots, root-of-root links) then merge
    * wherever any partition co-locates them. Every partition still emits
    * star edges for every node it saw (emitting only "owned" nodes would
    * DROP connectivity: a node that is its own local min in its owner
    * partition emits nothing there, and its cross-partition link would
    * vanish with it), so the same undirected edge can surface from two
    * partitions — the output is `distinct()`-ed, which the pre-converged
    * path also requires (labels are built one row per edge). Partitions
    * that disagree on a node's root leave two (u, ·) rows; that simply
    * fails the caller's star-set test and the loop finishes the job —
    * never wrong, only less pre-converged. The symmetrized pass runs on
    * the ALREADY-CONTRACTED edge set (orders of magnitude below the
    * input), so the 2x row fan-out and the distinct are priced on the
    * contracted relation, not the corpus.
    */
  private def localContract(edges: DataFrame, symmetrize: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val oriented = edges.select(col("u"), col("v"))
    val keyed =
      if (symmetrize)
        oriented.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      else oriented
    val contracted = keyed.as[(Long, Long)]
      .repartition(col("u"))
      .mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        def add(x: Long): Unit = if (!parent.contains(x)) parent.update(x, x)
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent.update(c, r); c = n }
          r
        }
        it.foreach { case (a, b) =>
          add(a); add(b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
          }
        }
        // min-root union keeps v < u, the loop's (big, small) orientation
        parent.keysIterator.toArray.iterator
          .map(k => (k, find(k)))
          .filter { case (k, r) => k != r }
      }
      .toDF("u", "v")
    if (symmetrize) contracted.distinct() else contracted
  }

  /** Lineage-pinning strategy for the iterative CC loop, picked by
    * `checkpointDir`:
    *   - None → `localCheckpoint`: blocks live on executor local storage —
    *     fast, but an executor loss mid-loop kills the computation;
    *   - Some(dir) → reliable `checkpoint()` into `dir` (HDFS/S3 on a real
    *     cluster): each round's state survives executor loss at the cost of
    *     a filesystem write per round.
    * `setCheckpointDir` is SparkContext-global (shared with the
    * [[isolatedCopy]] session by design — the checkpoint RDDs themselves
    * are session-independent).
    *
    * Reliable mode GC's ITSELF: Spark only deletes reliable checkpoints
    * through the ContextCleaner under
    * `spark.cleaner.referenceTracking.cleanCheckpoints` (a context-creation
    * setting this library can't assume), so without cleanup a long
    * clustering loop grows `dir` by one edge-set per round, unbounded.
    * Each pin lands in its own `pin-N` subdirectory and holds a round's
    * state, consumed only by the next round; it is deleted once two
    * younger pins exist: by then its one consumer is itself checkpointed
    * and materialized (the loop runs exactly one action per round), so
    * the files are unreachable. The last two pins stay on disk
    * deliberately — the returned labels frame still reads the final
    * checkpoint; callers GC `dir` after consuming results
    * (spec: `DedupSpec` "GC spent rounds").
    *
    * CONCURRENCY: `setCheckpointDir` is SparkContext-global, so two CC
    * loops sharing one context could interleave set/checkpoint and land
    * one loop's live checkpoint under the other's GC-eligible pin dir —
    * previously merely messy, data-destroying once GC deletes it. Two
    * defenses, both structural: every Pinner instance pins under its own
    * `pinner-N/` subdirectory of the caller's dir (so its GC can only ever
    * delete paths it created), and the set+checkpoint pair runs under a
    * process-wide lock so a checkpoint cannot land in another instance's
    * directory. Eager pins materialize inside the lock — concurrent loops
    * serialize their checkpoint ACTIONS (correctness over parallelism; the
    * loops' other stages still overlap freely).
    */
  private object Pinner {
    /** Process-wide: guards the SparkContext-global setCheckpointDir +
      * checkpoint pair across all Pinner instances (and contexts — one
      * lock for all is coarser than needed but contention-free in
      * practice: pins are per-iteration, not per-row).
      */
    private[Dedup] val checkpointLock = new Object
    private[Dedup] val instanceIds = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  private final class Pinner(
      spark: org.apache.spark.sql.SparkSession,
      checkpointDir: Option[String]) {
    private var seq = 0
    private val instance = Pinner.instanceIds.getAndIncrement()
    private val gcQueue = scala.collection.mutable.Queue[String]()

    /** Pin a round's state — GC-eligible two pins later. */
    def apply(df: DataFrame, eager: Boolean): DataFrame =
      checkpointDir match {
        case None => df.localCheckpoint(eager)
        case Some(dir) =>
          val sc = spark.sparkContext
          val sub = s"$dir/pinner-$instance/pin-$seq"
          seq += 1
          val out = Pinner.checkpointLock.synchronized {
            // the checkpoint dir is SparkContext-GLOBAL state: restore the
            // caller's dir after the pin, or every later non-Pinner
            // checkpoint in the application would land inside a pin
            // directory this loop's documented caller-GC contract then
            // deletes — destroying the app's own reliable checkpoints
            // (review finding). Restored EXACTLY via the bridge — the
            // public setter would nest a fresh UUID level per restore.
            // The restore happens inside the lock, so other Pinner
            // instances never observe the mutation; a concurrent
            // non-Pinner checkpoint not holding this lock can still
            // interleave into the pin window — that is inherent to the
            // global API and now bounded to the pin action itself.
            val prev = org.apache.spark.graftbridge.CheckpointDirBridge.get(sc)
            sc.setCheckpointDir(sub)
            try df.checkpoint(eager)
            finally org.apache.spark.graftbridge.CheckpointDirBridge.set(sc, prev)
          }
          gcQueue.enqueue(sub)
          if (gcQueue.size > 2) {
            val stale = new org.apache.hadoop.fs.Path(gcQueue.dequeue())
            stale.getFileSystem(sc.hadoopConfiguration).delete(stale, true)
          }
          out
      }
  }

  /** Re-bind a DataFrame onto a FRESH SparkSession (same SparkContext,
    * separate SQL conf) so the iterative loop's conf mutation below cannot
    * leak into queries concurrently planned on the caller's session. The
    * hop goes through the public `df.rdd` → `createDataFrame` route: one
    * extra row-conversion pass over the (already-checkpointed) narrow edge
    * relation, paid once — every derived frame inside the loop then plans
    * natively on the isolated session.
    *
    * `newSession()` starts from SparkContext-level conf only, so the
    * caller's RUNTIME overrides (ANSI mode, session timezone, case
    * sensitivity …) are replayed onto the fresh session first — the loop
    * must plan under the caller's semantics, just not leak its own
    * shuffle-partition mutation back. ONLY the cannot-modify
    * `AnalysisException` is swallowed (static/immutable keys, shared
    * through the context anyway); any other set failure on a
    * semantics-bearing key must surface, not leave the loop silently
    * planning under different semantics.
    */
  private def isolatedCopy(df: DataFrame): DataFrame = {
    val caller = df.sparkSession
    val fresh = caller.newSession()
    caller.conf.getAll.foreach { case (k, v) =>
      if (!fresh.conf.getOption(k).contains(v)) {
        try fresh.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
      }
    }
    fresh.createDataFrame(df.rdd, df.schema)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` sized to the iteration's
    * actual relation size instead of the session's corpus-scale setting —
    * a few hundred CC rows across 32 shuffle partitions pays 32 tasks of
    * scheduling overhead per round for partitions holding ~10 rows each.
    * The session value is restored afterwards. ~100k edge rows per
    * partition keeps an iteration partition comfortably in executor memory
    * (16 B a row) while capping task count on small graphs.
    *
    * The conf is session-scoped, and the CC loop hands this an
    * [[isolatedCopy]]-rebound relation: the mutation lands on a private
    * `newSession()`, so concurrent planning on the caller's session is
    * unaffected by construction (spec: `DedupSpec` "CC conf isolation").
    */
  private def withIterationPartitions[T](edges: DataFrame)(body: => T): T = {
    val spark = edges.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    val parts = math.max(1L, math.min(old.toLong, edges.count() / 100000L + 1L))
    spark.conf.set(key, parts.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Incremental-ingestion dedup: keep only `incoming` rows whose content
    * fingerprint does not already exist in the `history` corpus — the
    * daily-batch shape of exact dedup, where history is 100 TB and must be
    * neither rewritten, re-deduplicated, nor SHUFFLED.
    *
    * Plan (two broadcast joins; zero history exchange):
    *   1. the batch's distinct fingerprints broadcast UNDER the history
    *      scan as a LEFT SEMI membership probe — the role a bloom
    *      prefilter plays in the classic "bloom + exact verify" pipeline,
    *      except exact (no false positives) and map-side by construction.
    *      History contributes only the fingerprints the batch re-ingested;
    *      its text never moves and the corpus is never exchanged.
    *   2. that collision set — bounded by the batch's own distinct count
    *      after the `distinct()` — broadcasts as the build side of the
    *      LEFT ANTI join that drops replayed incoming rows.
    *
    * Contract: `incoming` is a bounded ingest batch whose distinct
    * fingerprint set fits in a broadcast (16 B a row — millions of docs,
    * not billions). Deduplicating two corpus-scale relations against each
    * other is [[exactGroups]]' job, not this operator's.
    *
    * STEADY-STATE CAVEAT: this form re-scans and re-hashes the full
    * history TEXT every batch — correct, but O(corpus I/O) per ingest
    * cycle. Production ingest should build the persisted fingerprint index
    * once ([[writeFingerprintIndex]]) and serve every batch from
    * [[dedupAgainstFingerprintIndex]] (+[[appendFingerprintIndex]]), which
    * reduces the per-batch history cost to ~16 bytes/doc. This form
    * remains the right tool when no index exists yet (it IS the index
    * bootstrap) or for one-off backfills.
    *
    * Why not Spark's runtime bloom filter (the earlier claim here,
    * corrected): `InjectRuntimeFilter` never fires for LEFT ANTI — pruning
    * the probe side is semantically invalid (rows that don't match are
    * exactly the output), and creation-side pruning isn't implemented for
    * anti joins — so a plain anti join against history would SortMergeJoin
    * and shuffle the full history fingerprint set every batch. The
    * broadcast-semi prefilter delivers the map-side prune explicitly;
    * PlanAuditSpec's q57 case asserts the no-history-shuffle shape.
    */
  def dedupAgainstHistory(
      history: DataFrame,
      incoming: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val inFp = incoming.withColumn("__fp", Text.fingerprint(col(textCol)))
    val batchFps = inFp.select("__fp").distinct()
    val collisions = history
      .select(Text.fingerprint(col(textCol)).as("__fp"))
      .join(broadcast(batchFps), Seq("__fp"), "left_semi")
      .distinct()
    inFp.join(broadcast(collisions), Seq("__fp"), "left_anti").drop("__fp")
  }

  /** Version tag for the fingerprint-index SCHEME (hash function + storage
    * form), stamped into persisted-index fixtures like
    * [[Int8Ops.QuantizerVersion]]: fingerprints written under one scheme
    * must never be probed under another, and the scheme lives in code where
    * a data-content stamp can't see it. v2: one immutable `batch=<gen>`
    * subdirectory per publish (atomic single-rename appends) instead of
    * flat append-mode files. v4: rows partitioned by `fpp` (hash of the
    * fingerprint mod a scale-derived directory count) inside each
    * generation, so probes directory-prune like the band index's `bp`
    * layout.
    */
  val FingerprintIndexVersion = "md5-bin-v4"

  // ---------------------------------------------------------------------
  // Prefix-partitioned index layout, shared by the fp index (`fpp`) and
  // the band index (`bp`).
  //
  // Probes directory-prune: the batch's distinct prefix values become a
  // literal IN predicate on the partition column, so a small batch reads
  // only the directories its own keys can land in instead of file-scanning
  // every generation (at 1e10 docs the fp index is ~160 GB and the band
  // table ~3 TB — per-batch full scans of either would dominate the loop).
  //
  // The directory count is SCALE-DERIVED at build time (the q75 packing-
  // shards pattern): rows/[[IndexDirTargetRows]] clamped to
  // [[[MinIndexDirs]], [[MaxIndexDirs]]]. A fixed 256 would be right at
  // production scale but pathological at small scale — each generation
  // becomes 256 near-empty files whose parquet footer opens cost more than
  // the rows, which is exactly the small-files disease compactLakePartition
  // exists to cure. The chosen modulus is recorded in a `_GRAFT_LAYOUT`
  // file at the index root: every append and probe MUST hash under the
  // same modulus or pruning would silently miss collisions, so the layout
  // travels with the index, not with the code. Production installs sizing
  // for growth pass `bpMod = Some(...)` explicitly (the modulus is part of
  // the install, like IVF's k); re-partitioning an index whose corpus has
  // outgrown its modulus is a fold-rewrite (all rows already flow through
  // IndexProtocol.compactGenerational) under a new explicit modulus + meta
  // rewrite.
  // ---------------------------------------------------------------------

  private[graft] val IndexDirTargetRows = 1L << 20
  private[graft] val MinIndexDirs = 16
  private[graft] val MaxIndexDirs = 256

  private[graft] def indexDirCount(rows: Long): Int =
    math.min(MaxIndexDirs.toLong, math.max(MinIndexDirs.toLong, rows / IndexDirTargetRows)).toInt

  /** Prefix partition value: uniform hash of the key, mod the index's
    * recorded modulus. Murmur3 over the raw fp bytes / band string — an
    * engine-internal routing value, never part of an oracle.
    */
  private def prefixCol(key: Column, mod: Int): Column = pmod(hash(key), lit(mod))

  // Layout IO, install, generation publish, readable-detection and the
  // generational fold live in [[IndexProtocol]] (the one-copy home of the
  // shared crash protocol, round-11 verdict #4); this module supplies the
  // fp/band/eval/span families' rows, layout fields and data roots.

  /** [[IndexProtocol.generationalReadable]] for a [[writeFingerprintIndex]]
    * layout. */
  def fingerprintIndexReadable(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    IndexProtocol.generationalReadable(spark, path, Seq(""))

  /** [[IndexProtocol.generationalReadable]] for a [[writeBandIndex]] layout
    * (both subtables — a sigs-only prefix is a crashed append and must
    * read as bootstrap).
    */
  def bandIndexReadable(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    IndexProtocol.generationalReadable(spark, path, Seq("sigs", "bands"))

  /** Materialize a BOUNDED DataFrame as a broadcast-ready local relation:
    * one collect, then a LocalRelation plan node carrying the same schema.
    * This is the cache-free alternative to `persist()` for the probe
    * functions' shared batch-derived subtrees: a `persist` with no
    * owner to unpersist it stays registered in the session's CacheManager
    * forever, and the ingest loop calls a probe per micro-batch — ~525k
    * leaked cache entries/year in the steady state the module documents
    * (round-9 advice). The collected set is bounded by the same contract
    * that lets these subtrees be `broadcast()` build sides anyway.
    */
  private def localized(df: DataFrame): DataFrame = {
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(df.collect(): _*)
    df.sparkSession.createDataFrame(rows, df.schema)
  }

  /** The fp/band index's recorded directory modulus. */
  private def readMod(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    IndexProtocol.readLayout(spark, path).int("mod")

  /** Persist the history corpus's content fingerprints as a compact index
    * table: (idCol, fp) with fp = the raw 16-byte md5
    * ([[Text.fingerprintBinary]]), landed as the index's first `batch=<gen>`
    * generation directory.
    *
    * This is [[dedupAgainstHistory]]'s amortization story — the q67 move
    * applied to dedup. dedupAgainstHistory already never SHUFFLES history,
    * but its per-batch plan re-SCANS and re-hashes the full history TEXT:
    * at 100 TB that is a full-corpus read every ingest cycle. Building
    * this index once reduces the steady-state per-batch history cost to a
    * scan of ~16 bytes/doc (≈1000× less I/O than text for kB-scale
    * documents), and [[appendFingerprintIndex]] keeps it current without
    * ever recomputing old fingerprints.
    *
    * The index is membership state, so duplicate fp rows (e.g. a re-folded
    * generation) are HARMLESS — probes are semi-join membership tests —
    * and idempotency is owned by the caller's write-once stamp, like the
    * IVF index fixture.
    */
  def writeFingerprintIndex(
      history: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      generation: Long = 0L,
      bpMod: Option[Int] = None,
      fpCol: Option[String] = None): Unit = {
    // modulus derived from the BUILD corpus unless the install sizes for
    // growth explicitly. Counting HISTORY, not the fp projection: the row
    // count is the same and counting the projection would materialize
    // every md5 fingerprint a second time (the publish recomputes them for
    // the write) — round-9 advice, 2x build cost.
    val mod = bpMod.getOrElse(indexDirCount(history.count()))
    IndexProtocol.install(history.sparkSession, path, Seq("mod" -> mod), generation,
      fingerprintRows(history, path, mod, textCol, idCol, fpCol))
  }

  /** (idCol, fp, fpp) rows of one document set — what the build and every
    * append publish. */
  private def fingerprintRows(
      docs: DataFrame, path: String, mod: Int, textCol: String, idCol: String,
      fpCol: Option[String]): IndexProtocol.GenerationRows = {
    val fpExpr = fpCol.map(col).getOrElse(Text.fingerprintBinary(col(textCol)))
    IndexProtocol.GenerationRows(path,
      docs.select(col(idCol), fpExpr.as("fp")).withColumn("fpp", prefixCol(col("fp"), mod)),
      partitionBy = Seq("fpp"))
  }

  /** Append an ACCEPTED batch's fingerprints to the index — the incremental
    * update the operator family's name promises: each ingest cycle hashes
    * only its own batch (already computed by the dedup probe), never the
    * history. Accepted-only by contract: appending rejected rows would be
    * redundant (their fps are already present — that is why they were
    * rejected).
    *
    * The batch lands as its own immutable generation directory via
    * [[IndexProtocol.publishGeneration]] — stage + ONE atomic rename — so
    * the append is all-or-nothing. That matters beyond tidiness: the fp
    * append is an ingest loop's dedup COMMIT POINT, and a half-visible
    * append (what parquet `mode("append")`'s file-at-a-time job commit can
    * leave after a crash) would make the crash-replay recompute a SMALLER
    * accepted set and dynamically overwrite the lake partition without the
    * partially-indexed docs — dropping them forever while their fps block
    * re-entry. With the rename, a replay sees either nothing (re-publishes
    * identically) or everything (no-ops: returns false).
    */
  def appendFingerprintIndex(
      accepted: DataFrame,
      path: String,
      generation: Long,
      textCol: String = "text",
      idCol: String = "doc_id",
      fpCol: Option[String] = None): Boolean = {
    // appends hash under the INDEX's recorded modulus — a drifted modulus
    // would route the same fp to different directories across generations
    // and the probe's pruning would silently miss collisions
    val mod = readMod(accepted.sparkSession, path)
    IndexProtocol.publishGeneration(generation,
      fingerprintRows(accepted, path, mod, textCol, idCol, fpCol))
  }

  /** Fold all `batch=<gen> ≤ upToGen` generation directories of a
    * fingerprint index into one — the maintenance pass that keeps the
    * index's FILE count O(1) while its data stays 16 bytes/doc: at a
    * per-minute ingest cadence the per-batch publishes are ~525k
    * directories/year, and listing cost would come to dominate every probe
    * long before the data does (the same small-files math as the doc
    * lake's compactCommitted).
    *
    * No intent log needed, unlike the doc lake: the index is MEMBERSHIP
    * state, so every crash window is benign by semantics rather than by
    * protocol — before the swap the originals are untouched (an orphaned
    * `__tmp` is cleaned on the next run); the swap itself is the two-rename
    * [[graft.sinks.Sinks.swapIn]] (a crash between its renames parks the
    * target generation in `__old`, restored by
    * [[graft.sinks.Sinks.recoverPartitions]] — run here on entry and by the
    * ingest loop on startup); after the swap, not-yet-deleted folded
    * originals are pure duplicates of the consolidated generation, which a
    * semi-join probe cannot observe, and a re-run folds them away.
    * Single-writer contract as always: don't fold concurrently with an
    * appender.
    */
  def compactFingerprintIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      upToGen: Long): Unit =
    IndexProtocol.compactGenerational(spark, path, upToGen, partitionBy = Seq("fpp"))

  // -----------------------------------------------------------------------
  // Persisted MinHash BAND index — incremental NEAR-dup dedup.
  //
  // The fp index gives the ingest loop exact dedup at O(batch) per cycle; a
  // replayed document with one word changed sails through it. The batch
  // near-dup operator (minhashCandidates) catches that form but re-computes
  // signatures for the FULL corpus every run — O(corpus) per batch, the
  // same cost class the fp index eliminated for exact dedup. This index is
  // the q69 move applied to the banded-LSH pipeline: persist each doc's
  // band keys (the LSH probe structure) and its minhash signature (the
  // verification payload), probe each batch's bands against the persisted
  // bands, and verify the bounded collision set by signature agreement —
  // history TEXT is never read, never re-hashed, never shuffled.
  //
  // Layout (two generational subtables, each published as immutable
  // batch=<gen> dirs via the same atomic-rename protocol as the fp index):
  //   <path>/sigs/batch=<g>/         (doc_id, sig: array<long>) ~8·nHashes B/doc
  //   <path>/bands/batch=<g>/bp=<n>/ (band: 16-byte raw md5, doc_id) nBands rows/doc
  // `bp` = hash(band) mod the index's recorded `_GRAFT_LAYOUT` modulus
  // (scale-derived at build; see the prefix-layout note above the fp
  // index): the probe filters on it with the batch's own prefix set, so
  // partition pruning skips the directories the batch cannot collide with.
  // Appends publish sigs FIRST, bands second: a band row whose sig is
  // missing could silently drop a candidate pair, while a sig row with no
  // band rows is unreachable — so with this order every crash prefix
  // behaves as if the append never happened, and the replay completes it.
  // -----------------------------------------------------------------------

  /** Version tag of the band-index scheme (hash derivation + banding +
    * storage form), for fixture stamps — the model hyperparameters
    * (nHashes, nBands, seed) are part of the index identity and must be
    * stamped alongside by callers, like the IVF index's (k, iters).
    */
  val BandIndexVersion = "minhash-band-v4"

  /** (sigs, bands) generation rows for one document set — what both the
    * index build and the append publish, sigs first (see the layout note
    * above). Band keys are EXACTLY [[minhashCandidates]]' construction
    * (md5 over the band's signature slice), so the SQL oracle machinery
    * reproduces them verbatim.
    */
  private def bandIndexRows(
      docs: DataFrame,
      path: String,
      textCol: String,
      idCol: String,
      nHashes: Int,
      nBands: Int,
      seed: Long,
      bpMod: Int): Seq[IndexProtocol.GenerationRows] = {
    val sig = minhashSignatures(docs.select(col(idCol), col(textCol)), textCol, idCol, nHashes, seed)
    val bandCols = bandKeyCols(nHashes, nBands)
    Seq(
      IndexProtocol.GenerationRows(s"$path/sigs", sig.select(col("id").as("doc_id"), col("sig"))),
      IndexProtocol.GenerationRows(s"$path/bands",
        sig.select(col("id").as("doc_id"), explode(array(bandCols: _*)).as("band"))
          .select(col("band"), col("doc_id"), prefixCol(col("band"), bpMod).as("bp")),
        partitionBy = Seq("bp")))
  }

  /** Build the band index over a history corpus (generation 0 of both
    * subtables). One signature pass over the corpus — paid ONCE; every
    * later batch costs only its own signatures plus a bounded probe.
    */
  def writeBandIndex(
      history: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      nHashes: Int = 64,
      nBands: Int = 4,
      seed: Long = 42L,
      generation: Long = 0L,
      bpMod: Option[Int] = None): Unit = {
    // band rows per doc = nBands, so the modulus derives from docs × nBands
    // (or the install's explicit growth sizing) — see the layout note above
    val mod = bpMod.getOrElse(indexDirCount(history.count() * nBands))
    IndexProtocol.install(history.sparkSession, path, Seq("mod" -> mod), generation,
      bandIndexRows(history, path, textCol, idCol, nHashes, nBands, seed, mod): _*)
  }

  /** Append an ACCEPTED batch's signatures and band keys as generation
    * `generation` — the incremental growth path: each cycle signs only its
    * own batch. Sigs publish before bands (see the layout note above);
    * both are single-rename all-or-nothing, and an existing generation
    * no-ops, so a crash-replay converges. Returns whether the bands
    * generation was newly published.
    */
  def appendBandIndex(
      accepted: DataFrame,
      path: String,
      generation: Long,
      textCol: String = "text",
      idCol: String = "doc_id",
      nHashes: Int = 64,
      nBands: Int = 4,
      seed: Long = 42L): Boolean = {
    val mod = readMod(accepted.sparkSession, path)
    IndexProtocol.publishGeneration(generation,
      bandIndexRows(accepted, path, textCol, idCol, nHashes, nBands, seed, mod): _*)
  }

  /** Keep only `incoming` rows that are not near-duplicates of the indexed
    * history: a row is dropped when it shares ≥ 1 band with an indexed doc
    * AND the signature agreement (fraction of equal positions — the same
    * est_jaccard as [[minhashCandidates]]) reaches `minEstJaccard`.
    *
    * Plan shape — bounded-batch contract throughout, zero history text:
    *   1. the batch's signatures (one pass over ITS text) explode to band
    *      keys, whose distinct set broadcast-SEMI-probes the persisted
    *      bands table — the index scan reads (band, doc_id) rows only;
    *   2. the batch's own ids are broadcast-ANTI-excluded from the
    *      collisions: a crash-replayed batch whose append already published
    *      must recompute the SAME acceptance it did the first time, so its
    *      own generation (and any intra-batch near-pair) must be invisible
    *      — this is what lets the band appends sit before the ingest
    *      loop's fp commit point without perturbing replays;
    *   3. hot-band escape valve ([[minhashCandidates]]' `maxBandBucket`
    *      carried over): bands whose surviving collision count exceeds
    *      `maxBandCollisions` are excluded from pair generation — one
    *      degenerate boilerplate cluster in the index would otherwise make
    *      every matching batch doc pay O(cluster) verification. Exact
    *      dedup (the fp index) owns identical content and runs first in
    *      the ingest composition;
    *   4. the bounded candidate ids broadcast-SEMI-select their signatures
    *      from the sigs table; agreement is the interpreted HOF on
    *      candidate PAIRS only (the one deliberate no-HOF-rule inversion,
    *      same as minhashCandidates).
    */
  def dedupAgainstBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      incoming: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      nHashes: Int = 64,
      nBands: Int = 4,
      minEstJaccard: Double = 0.9,
      seed: Long = 42L,
      maxBandCollisions: Int = Int.MaxValue): DataFrame = {
    // the batch's signature table feeds four plan branches (band keys,
    // own-id exclusion, candidate sigs, agreement re-join) — a LOCAL
    // RELATION ([[localized]]) instead of a persist: one signature pass
    // over the batch text, no per-micro-batch CacheManager leak, and the
    // set is bounded by the same contract that broadcasts three of those
    // branches anyway (~0.5 KB/doc at 64 hashes)
    val sig = localized(minhashSignatures(
      incoming.select(col(idCol), col(textCol)), textCol, idCol, nHashes, seed))
    val bandCols = bandKeyCols(nHashes, nBands)
    val batchBands = sig.select(col("id"), explode(array(bandCols: _*)).as("band"))
    // Partition pruning first, row pruning second. The batch's distinct
    // band PREFIXES (≤ the index's recorded modulus — a model-sized driver
    // action over the persisted batch signatures, same class as the q67
    // isin move) become a literal `bp IN (...)` predicate, so the scan
    // lists and reads only the bp directories the batch can collide with;
    // the broadcast semi-join then prunes to exact band matches within
    // them. A small batch probes a handful of directories instead of
    // file-scanning the full band table (the round-8 q78 gap); a corpus-
    // sized batch degrades gracefully to the old full scan.
    val mod = readMod(spark, path)
    val prefixes = batchBands
      .select(prefixCol(col("band"), mod).as("bp"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val collisions = graft.sources.Tables.parquetScan(spark, s"$path/bands")
      .filter(col("bp").isin(prefixes: _*))
      .select(col("band"), col("doc_id").as("hist_id"))
      .join(broadcast(batchBands.select("band").distinct()), Seq("band"), "left_semi")
      .join(broadcast(sig.select(col("id").as("hist_id"))), Seq("hist_id"), "left_anti")
    val capped =
      if (maxBandCollisions == Int.MaxValue) collisions
      else collisions.join(
        collisions.groupBy("band").agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxBandCollisions).select("band"),
        Seq("band"))
    val pairs = capped
      .join(broadcast(batchBands), Seq("band"))
      .select(col("id"), col("hist_id"))
      .distinct()
    val histSigs = graft.sources.Tables.parquetScan(spark, s"$path/sigs")
      .join(broadcast(pairs.select(col("hist_id").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("hist_id"), col("sig").as("h_sig"))
    // native loop agreement, same rework as [[minhashPairs]] (round 10)
    val agree = SigAgree.agreeCount(col("b_sig"), col("h_sig"))
    val nearIds = pairs
      .join(broadcast(histSigs), Seq("hist_id"))
      .join(sig.select(col("id"), col("sig").as("b_sig")), Seq("id"))
      .select(col("id"), round(agree.cast("double") / nHashes, 4).as("est"))
      .filter(col("est") >= minEstJaccard)
      .select(col("id").as(idCol))
      .distinct()
    incoming.join(broadcast(nearIds), Seq(idCol), "left_anti")
  }

  /** Fold both band-index subtables' generations ≤ upToGen — the same
    * maintenance as [[compactFingerprintIndex]] (both subtables are
    * membership state published as `batch=<gen>` dirs, so the identical
    * crash-window argument applies).
    */
  def compactBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      upToGen: Long): Unit = {
    IndexProtocol.compactGenerational(spark, s"$path/sigs", upToGen)
    IndexProtocol.compactGenerational(spark, s"$path/bands", upToGen, partitionBy = Seq("bp"))
  }

  /** [[dedupAgainstHistory]] served from a persisted [[writeFingerprintIndex]]
    * table instead of the history text: keep only `incoming` rows whose
    * fingerprint is absent from the index.
    *
    * Same two-broadcast-join shape and the same bounded-batch contract as
    * dedupAgainstHistory — the batch's distinct fps broadcast-SEMI-probe
    * the INDEX scan (16-byte rows, fp column only — Catalyst prunes idCol
    * out of the read schema, plan-asserted), and the bounded collision set
    * broadcasts back as the LEFT ANTI build side. History text appears
    * nowhere in the plan: the only text read is the batch's own, to
    * compute its fingerprints (PlanAuditSpec asserts the q69 plan scans
    * documents once per batch branch and the index for everything else).
    */
  def dedupAgainstFingerprintIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      incoming: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      fpCol: Option[String] = None): DataFrame = {
    // `fpCol` lets a caller that already md5'd the batch (the ingest loop's
    // intra-batch dedup) reuse the column instead of paying a second full
    // text pass; the column is preserved in the result so the commit-point
    // append can reuse it a third time (review finding: 3x hashing/cycle)
    val inFp = fpCol match {
      case Some(c) => incoming.withColumnRenamed(c, "__fp")
      case None => incoming.withColumn("__fp", Text.fingerprintBinary(col(textCol)))
    }
    // the batch's distinct fps feed the prefix derivation AND the
    // semi-join build side — materialized as a LOCAL RELATION
    // ([[localized]]: one batch scan, no CacheManager entry to leak per
    // micro-batch), which is free to do because the set is bounded by the
    // same contract that broadcasts it below
    val batchFps = localized(inFp.select("__fp").distinct())
    // directory pruning before the semi-join row pruning: the batch's
    // distinct fp PREFIXES (≤ the index's recorded modulus, a model-sized
    // driver action — the band index's bp move) become a literal
    // fpp IN (...) partition predicate, so a small batch reads only the
    // index directories its own fingerprints can land in instead of
    // file-scanning all generations
    val mod = readMod(spark, path)
    val prefixes = batchFps.select(prefixCol(col("__fp"), mod).as("fpp"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val collisions = graft.sources.Tables.parquetScan(spark, path)
      .filter(col("fpp").isin(prefixes: _*))
      .select(col("fp").as("__fp"))
      .join(broadcast(batchFps), Seq("__fp"), "left_semi")
      .distinct()
    val out = inFp.join(broadcast(collisions), Seq("__fp"), "left_anti")
    fpCol match {
      case Some(c) => out.withColumnRenamed("__fp", c)
      case None => out.drop("__fp")
    }
  }

  // ---------------------------------------------------------------------
  // Persisted EVAL-SET decontamination index — benchmark-leakage gating.
  //
  // contaminationReport (q55, ops.Sampling) detects train→eval leakage
  // INSIDE one corpus snapshot; an ingest loop needs the inverse shape: the
  // eval suites are fixed, small, and known up front, while the training
  // corpus arrives batch by batch forever. This index persists the eval
  // suites' winnowing fingerprints ([[Text.winnowFingerprints]] — any
  // shared verbatim run of ≥ w+k−1 tokens yields a shared fingerprint)
  // ONCE, and every ingest batch is gated against it at O(batch) cost —
  // contaminated docs never land in the training lake at all, instead of
  // being hunted down by a full-corpus report before each training run.
  //
  // The scale asymmetry is the MIRROR of the fp/band indexes: there the
  // history side is huge and the batch small, so probes directory-prune
  // the index and broadcast the batch; here the INDEX side is small by
  // contract (eval suites are curated benchmark sets — thousands of docs,
  // tens of fps each; megabytes, model-sized like the IVF centroids) and
  // the batch side is the unbounded one. So the probe reads the whole
  // index, BROADCASTS its distinct fingerprints, and the batch's own
  // fingerprint relation — the O(batch·tokens) side — joins against that
  // broadcast without shuffling anything wider than (id, fp) longs. No
  // prefix partitioning: pruning directories of a megabyte-scale table
  // would add listing cost without removing scan cost. The `_GRAFT_LAYOUT`
  // file records the winnowing geometry (k, w) instead of a modulus — the
  // probe MUST gram/window under the index's own geometry or collisions
  // are silently missed, the same layout-travels-with-the-index drift
  // hazard as the fp index's directory modulus.
  //
  // Generational like its siblings: each eval suite lands as an immutable
  // `batch=<gen>` dir via the atomic-rename publish, so adding a new
  // benchmark to the blocklist is an append, not a rebuild, and the same
  // membership-semantics crash argument applies (duplicate fps are
  // invisible to a semi-join probe; [[compactEvalIndex]] folds).
  // ---------------------------------------------------------------------

  /** Version tag of the eval-index scheme (winnowing hash derivation +
    * storage form), for fixture stamps. The geometry (k, w) is recorded in
    * the index's own layout file, not here — it travels with the data.
    * v2: the layout is written by the shared codec (`k=3,w=4`; v1 wrote
    * `k=3|w=4`, which the codec refuses with the rebuild remedy).
    */
  val EvalIndexVersion = "winnow-eval-v2"

  /** The eval index's recorded winnowing geometry (k, w). */
  private def readEvalLayout(
      spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int) = {
    val layout = IndexProtocol.readLayout(spark, path)
    (layout.int("k"), layout.int("w"))
  }

  /** [[IndexProtocol.generationalReadable]] for a [[writeEvalIndex]] layout. Runs
    * [[graft.sinks.Sinks.recoverTable]] first: a crashed install swap parks
    * the WHOLE live index at `<path>__old`, and without the restore every
    * probe until the next startup would read "no index" — for a gate that
    * fails open, a silently-disabled screen (the review's fail-open finding).
    */
  def evalIndexReadable(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    graft.sinks.Sinks.recoverTable(spark, path)
    IndexProtocol.generationalReadable(spark, path, Seq(""))
  }

  /** Ceiling on the eval-index rows the probe will collect + broadcast —
    * ~64 MB of (id, fp) pairs, the size class of every other model-sized
    * collect in the engine. Suites are normally far below it; a
    * pathological install (tens of millions of fingerprints) must not OOM
    * the driver on collect or the executors on broadcast — above the
    * ceiling the probe degrades to a DISTRIBUTED semi-join against the
    * index table (one suite-sized shuffle per batch: the honest cost of a
    * blocklist too big to replicate).
    */
  private[functions] def evalBroadcastMaxRows: Long =
    sys.props.get("graft.evalIndex.broadcastMaxRows").map(_.toLong).getOrElse(4L << 20)

  /** Cache of the collected eval-index rows, keyed by index path with the
    * generation listing (names + mtimes) as the staleness signature. The
    * blocklist is IMMUTABLE between rare human-cadence suite installs, but
    * the ingest loop probes per micro-batch — without the cache, the same
    * megabyte-scale fp set is re-listed, re-scanned, shuffle-distinct'd and
    * re-collected ~525k times/year in the loop's steady state (review
    * finding). The signature changes structurally on every mutation path:
    * install (swapped-in root carries freshly-built generation dirs),
    * append (a new `batch=` entry), fold (entries consolidated) — so
    * staleness detection costs one directory listing, which the probe
    * needed anyway to read the layout. Values are raw rows + schema, never
    * DataFrames: a cached plan would pin its originating SparkSession. A
    * `None` value records "over the broadcast ceiling" so oversized
    * installs don't re-count per batch either.
    */
  private val evalRowsCache =
    new java.util.concurrent.ConcurrentHashMap[
      String,
      (String,
        Option[(org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])])]()

  private def evalGenSignature(
      spark: org.apache.spark.sql.SparkSession, path: String): String = {
    IndexProtocol.generations(
        IndexProtocol.fileSystem(spark, path), new org.apache.hadoop.fs.Path(path))
      .map(st => s"${st.getPath.getName}@${st.getModificationTime}")
      .sorted.mkString(";")
  }

  /** The index's distinct (eval_id, fp) rows, plus whether they are LOCAL:
    * (true, LocalRelation) served from [[evalRowsCache]] when the suite fits
    * the broadcast ceiling; (false, distributed scan) above it. Callers pick
    * the join strategy from the flag: broadcast when local, shuffle
    * semi-join when not.
    */
  private def evalIndexRows(
      spark: org.apache.spark.sql.SparkSession, path: String): (Boolean, DataFrame) = {
    val distributed = graft.sources.Tables.parquetScan(spark, path).select("eval_id", "fp").distinct()
    val sig = evalGenSignature(spark, path)
    val entry = Option(evalRowsCache.get(path)).filter(_._1 == sig) match {
      case Some(e) => e._2
      case None =>
        val max = evalBroadcastMaxRows
        val probeLimit = math.min(max + 1, Int.MaxValue.toLong).toInt
        val e =
          if (distributed.limit(probeLimit).count() > max) None
          else Some((distributed.schema, distributed.collect()))
        evalRowsCache.put(path, (sig, e))
        e
    }
    entry match {
      case Some((schema, rows)) =>
        (true, spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
      case None => (false, distributed)
    }
  }

  /** Build or REPLACE the eval-set decontamination index: the winnowing
    * fingerprints of `evalDocs` as (eval_id, fp), landed as generation 0.
    * One winnowing pass over the eval suites — paid once per suite, ever;
    * ingest batches never read eval TEXT again. Skew-safe via the salted
    * winnowing form (identical fingerprint set, bounded window partitions).
    *
    * The install is STAGED then swapped ([[graft.sinks.Sinks.replaceTable]]),
    * not built in place: the documented usage is an operator refreshing the
    * blocklist while an ingest loop keeps probing it, and a delete-then-
    * rebuild window would read as "no index installed" — the decontam gate
    * fails OPEN by design (it cannot bootstrap from ingest data), so every
    * batch landed during the rebuild would permanently commit unscreened
    * docs. With the swap, probes see the old suites until the instant the
    * new install is complete; a crash between the swap's renames parks the
    * old index at `<path>__old`, restored by
    * [[graft.sinks.Sinks.recoverTable]] (run on probe entry and by the
    * ingest loop's startup recovery).
    */
  def writeEvalIndex(
      evalDocs: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3,
      w: Int = 4,
      generation: Long = 0L): Unit = {
    val spark = evalDocs.sparkSession
    graft.sinks.Sinks.replaceTable(spark, path) { next =>
      IndexProtocol.install(spark, next, Seq("k" -> k, "w" -> w), generation,
        evalRows(evalDocs, next, textCol, idCol, k, w))
    }
  }

  /** (eval_id, fp) rows of one eval suite under the geometry (k, w). */
  private def evalRows(
      evalDocs: DataFrame, path: String, textCol: String, idCol: String,
      k: Int, w: Int): IndexProtocol.GenerationRows =
    IndexProtocol.GenerationRows(path,
      Text.winnowFingerprintsSalted(evalDocs, textCol, idCol, k, w)
        .select(col(idCol).as("eval_id"), col("fp")))

  /** Append a NEW eval suite to the index as its own immutable generation —
    * adding a benchmark to the blocklist without re-fingerprinting the
    * suites already indexed. Fingerprints under the index's RECORDED
    * geometry (a drifted k/w would emit fingerprints the probe's geometry
    * can never collide with). Returns false for an already-published
    * generation (replay no-op), like its siblings.
    */
  def appendEvalIndex(
      evalDocs: DataFrame,
      path: String,
      generation: Long,
      textCol: String = "text",
      idCol: String = "doc_id"): Boolean = {
    val (k, w) = readEvalLayout(evalDocs.sparkSession, path)
    IndexProtocol.publishGeneration(generation, evalRows(evalDocs, path, textCol, idCol, k, w))
  }

  /** Fold eval-index generations ≤ upToGen into one — same membership-state
    * crash argument as [[compactFingerprintIndex]]. Rarely needed (eval
    * suites are added on human cadence, not ingest cadence), but the fold
    * keeps a long-lived install's file count bounded all the same.
    */
  def compactEvalIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      upToGen: Long): Unit =
    IndexProtocol.compactGenerational(spark, path, upToGen)

  /** Batch doc ids whose winnowing fingerprints collide with the indexed
    * eval suites at least `minSharedFps` times — counted against the
    * UNION of all indexed fingerprints (total leaked runs per batch doc),
    * NOT per individual eval doc: the gate's question is "does this doc
    * carry verbatim eval material at all", and a doc quoting one 6-token
    * run from each of three benchmarks is three times the evidence, not
    * zero times (per-eval-doc attribution is [[evalContaminationReport]]'s
    * job). The index's distinct fingerprints are collected once — cached
    * across micro-batches by [[evalRowsCache]], bounded by the eval-suite
    * contract like the IVF centroid model — and broadcast; the batch's
    * fingerprint relation joins against them with no shuffle wider than
    * (id, fp).
    */
  def contaminatedIds(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minSharedFps: Int = 1): DataFrame = {
    require(minSharedFps >= 1, s"minSharedFps must be >= 1, got $minSharedFps")
    graft.sinks.Sinks.recoverTable(spark, path)
    val (k, w) = readEvalLayout(spark, path)
    val (local, evalRows) = evalIndexRows(spark, path)
    val evalFps = evalRows.select("fp").distinct()
    val batchFps = Text.winnowFingerprintsSalted(
      batch.select(col(idCol), col(textCol)), textCol, idCol, k, w)
    val hits = batchFps.join(
      if (local) broadcast(evalFps) else evalFps, Seq("fp"), "left_semi")
    if (minSharedFps <= 1) hits.select(col(idCol)).distinct()
    else hits // batchFps is distinct per (id, fp), so count = distinct shared fps
      .groupBy(idCol).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minSharedFps)
      .select(col(idCol))
  }

  /** Per-contaminated-doc report against the persisted eval index — the
    * [[graft.ops.Sampling.contaminationReport]] output shape (how many
    * distinct eval docs a batch doc collides with, through how many of its
    * fingerprints) driven by the index instead of a corpus re-winnow: the
    * index keeps (eval_id, fp), so attribution costs nothing extra. Same
    * probe plan as [[contaminatedIds]] (broadcast index side, narrow batch
    * fps), with the counts aggregated per batch doc. Use for triage of what
    * the gate dropped; the gate itself is [[dedupAgainstEvalIndex]].
    */
  def evalContaminationReport(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    graft.sinks.Sinks.recoverTable(spark, path)
    val (k, w) = readEvalLayout(spark, path)
    val (local, evalFps) = evalIndexRows(spark, path)
    Text.winnowFingerprintsSalted(
        batch.select(col(idCol), col(textCol)), textCol, idCol, k, w)
      .join(if (local) broadcast(evalFps) else evalFps, Seq("fp"))
      .groupBy(idCol)
      .agg(
        countDistinct(col("eval_id")).as("n_eval_docs"),
        countDistinct(col("fp")).as("n_shared_fps"))
  }

  /** Decontaminate a batch against the persisted eval index: survivors are
    * the batch rows sharing fewer than `minSharedFps` fingerprints with
    * the indexed suites IN AGGREGATE ([[contaminatedIds]]'s union
    * semantics; docs shorter than k tokens emit no fingerprints and always
    * survive). The contaminated set is ≤ batch-sized and expected tiny
    * (leakage is the exception), so the anti-join broadcasts it — the
    * batch itself never shuffles. Replay-invariant trivially: the index
    * never grows with the ingest stream, so a crash replay probes the
    * identical blocklist.
    */
  def dedupAgainstEvalIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minSharedFps: Int = 1): DataFrame =
    batch.join(
      broadcast(contaminatedIds(spark, path, batch, textCol, idCol, minSharedFps)),
      Seq(idCol), "left_anti")

  // -----------------------------------------------------------------------
  // Persisted SPAN-COUNT index — incremental hot-span scrub.
  //
  // [[Text.hotSpanScrub]] (q84) is corpus-global: two passes over ALL text
  // per run. This index is the q69 move applied to it: each ingest batch
  // publishes its own span-hash COUNTS as an immutable generation, a
  // maintenance-cadence refresh folds them into the model-sized HOT LIST
  // (hashes with total occurrences ≥ minCount), and the scrub stage
  // rewrites each batch against that list at O(batch) — history text is
  // never re-read.
  //
  // Counts are NOT membership state: a naive fold that concatenates
  // generations would double-count whatever a post-swap crash left behind.
  // The index therefore stores per-batch count FACTS — (h, src, c) where
  // `src` is the ORIGIN batch id carried as a data column — so any
  // duplication a crash window can produce is row-identical duplication,
  // removed by the reader's `distinct()` ([[IndexProtocol.readFacts]]) and
  // by the shared generational fold's distinct
  // ([[IndexProtocol.compactGenerational]]'s membership argument holds
  // verbatim). Totals are then `sum(c) group by h` over distinct
  // facts.
  //
  // Layout:
  //   <path>/counts/batch=<g>/   (h: long, src: long, c: long) facts
  //   <path>/hot/                swap-managed hot list (h: long), refreshed
  //                              by [[refreshHotSpanList]] on the
  //                              maintenance cadence
  // The scrub's hyperparameters (k, minCount) are part of the index
  // identity and recorded in _GRAFT_LAYOUT: counts of k-token spans are
  // meaningless to a probe expecting a different k, and a drifted minCount
  // would flip hot decisions between refreshes.
  // -----------------------------------------------------------------------

  /** Version tag of the span-count index scheme, for fixture stamps. */
  val SpanIndexVersion = "span-count-v1"

  private def spanCountsRoot(path: String) = s"$path/counts"
  private def hotListPath(path: String) = s"$path/hot"

  /** The index's recorded (k, minCount). */
  def readSpanLayout(
      spark: org.apache.spark.sql.SparkSession, path: String): (Int, Long) = {
    val layout = IndexProtocol.readLayout(spark, path)
    (layout.int("k"), layout.long("minCount"))
  }

  /** [[IndexProtocol.generationalReadable]] for a span-count index (the counts subtable; the hot
    * list is optional state — an index with counts but no refreshed list
    * yet is readable, it just scrubs nothing).
    */
  def spanCountIndexReadable(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    IndexProtocol.generationalReadable(spark, path, Seq("counts"))

  /** One batch's span-count facts: (h, src, c) for every distinct k-token
    * span hash of `docs`, counted with multiplicity. */
  private def spanCountFacts(
      docs: DataFrame, path: String, textCol: String, k: Int,
      generation: Long): IndexProtocol.GenerationRows =
    IndexProtocol.GenerationRows(spanCountsRoot(path), docs
      .select(explode(Text.spanChunks(col(textCol), k)).as("__ch"))
      .select(tokenHash64(col("__ch")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .select(col("h"), lit(generation).as("src"), col("c")))

  /** Install a span-count index from a history corpus (generation 0). One
    * span pass over the corpus — paid once; every later batch publishes
    * only its own counts.
    */
  def writeSpanCountIndex(
      history: DataFrame,
      path: String,
      textCol: String = "text",
      k: Int = 4,
      minCount: Long = 3L,
      generation: Long = 0L): Unit =
    IndexProtocol.install(history.sparkSession, path, Seq("k" -> k, "minCount" -> minCount),
      generation, spanCountFacts(history, path, textCol, k, generation))

  /** Publish one batch's span-count facts as its own immutable generation.
    * Counts under the index's RECORDED k (drifted span geometry would
    * accumulate counts no probe can match). Returns false for an
    * already-published generation (replay no-op), like its siblings.
    */
  def appendSpanCounts(
      batch: DataFrame,
      path: String,
      generation: Long,
      textCol: String = "text"): Boolean = {
    val (k, _) = readSpanLayout(batch.sparkSession, path)
    IndexProtocol.publishGeneration(generation,
      spanCountFacts(batch, path, textCol, k, generation))
  }

  /** Fold count-fact generations ≤ upToGen into one. Safe under the
    * membership argument BECAUSE the rows are (h, src, c) facts — see the
    * section note. */
  def compactSpanCountIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      upToGen: Long): Unit =
    IndexProtocol.compactGenerational(spark, spanCountsRoot(path), upToGen)

  /** Recompute the hot list from the accumulated count facts and swap it
    * in: `distinct (h, src, c) → sum(c) by h → ≥ minCount`. The distinct is
    * the crash shield (duplicate facts from a fold's post-swap window sum
    * once); the aggregate shuffles only (h, c) rows. Maintenance-cadence
    * work, not per-batch: between refreshes the scrub runs against the
    * previous list, which is exactly the stability a crash-replayed batch
    * needs to recompute its acceptance byte-identically.
    */
  def refreshHotSpanList(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    if (!spanCountIndexReadable(spark, path)) return
    val (_, minCount) = readSpanLayout(spark, path)
    val hot = IndexProtocol.readFacts(spark, spanCountsRoot(path), "h", "src", "c")
      .groupBy("h").agg(sum(col("c")).as("__total"))
      .filter(col("__total") >= minCount)
      .select("h")
    graft.sinks.Sinks.replaceTable(spark, hotListPath(path), "__tmp") { next =>
      hot.write.parquet(next)
    }
  }

  /** Post-crash repair of a span index: restore a hot list a crashed
    * [[refreshHotSpanList]] swap left parked, and any parked count-fold
    * generation. (Readers self-heal — [[readHotSpanList]] resolves the
    * parked swap inline — so this is the maintenance-sweep entry point,
    * not a correctness prerequisite.)
    */
  def recoverSpanIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    graft.sinks.Sinks.recoverTable(spark, hotListPath(path))
    graft.sinks.Sinks.recoverPartitions(spark, spanCountsRoot(path))
  }

  /** The current hot list (h: long), resolving a crashed swap's parked
    * generation; empty when no refresh has run yet. */
  def readHotSpanList(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val live = hotListPath(path)
    graft.sinks.Sinks.recoverTable(spark, live)
    val fs = IndexProtocol.fileSystem(spark, live)
    if (fs.exists(new org.apache.hadoop.fs.Path(live))) graft.sources.Tables.parquetScan(spark, live)
    else {
      import spark.implicits._
      Seq.empty[Long].toDF("h")
    }
  }

  /** Exact token-set Jaccard for a candidate pair of text columns. */
  def jaccardTokens(a: Column, b: Column): Column = {
    val sa = array_distinct(split(a, " "))
    val sb = array_distinct(split(b, " "))
    val inter = size(array_intersect(sa, sb)).cast("double")
    inter / (size(sa) + size(sb) - inter)
  }
}
