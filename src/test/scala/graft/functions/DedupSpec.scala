package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exactGroups groups identical content and keeps min id as representative") {
    val out = Dedup.exactGroups(docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y"))
      .select("rep_id", "dup_cnt").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("minhashCandidates finds identical docs with est_jaccard 1.0") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "completely different words nothing shared here at all")
    val out = Dedup.minhashCandidates(d).as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 1.0)))
  }

  test("minhashCandidates: disjoint docs produce no candidates") {
    val d = docs(1L -> "aa bb cc dd", 2L -> "ee ff gg hh")
    assert(Dedup.minhashCandidates(d).count() == 0)
  }

  test("minhashCandidates: maxBandBucket excludes a degenerate identical clique, keeps normal pairs") {
    val clique = (1L to 5L).map(i => i -> "identical boilerplate repeated across the whole mirror set")
    val pair = Seq(
      10L -> "alpha beta gamma delta epsilon zeta eta theta",
      11L -> "alpha beta gamma delta epsilon zeta eta theta")
    val d = docs(clique ++ pair: _*)
    // uncapped: the 5-clique contributes C(5,2)=10 pairs plus the normal pair
    assert(Dedup.minhashCandidates(d).count() == 11)
    // capped at 2: the hot buckets (5 members) are excluded, the 2-member
    // buckets of the normal near-dup pair survive
    val capped = Dedup.minhashCandidates(d, maxBandBucket = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(capped == Seq((10L, 11L, 1.0)), capped.toString)
  }

  test("minhash signature agreement tracks token-set jaccard (sampling bound)") {
    // 9 of 12 tokens shared -> true jaccard 9/15 = 0.6
    val shared = (1 to 9).map(i => s"tok$i").mkString(" ")
    val d = docs(
      1L -> s"$shared only1a only1b only1c",
      2L -> s"$shared only2a only2b only2c")
    val est = Dedup.minhashCandidates(d, minEstJaccard = 0.0)
      .select("est_jaccard").as[Double].collect()
    // banding at threshold ~0.92 may or may not emit a 0.6-jaccard pair;
    // when it does, the estimate must be within 4 sigma of truth (n=64)
    est.foreach(e => assert(math.abs(e - 0.6) < 4 * math.sqrt(0.6 * 0.4 / 64)))
  }

  test("native minhash signature is bit-equal to the explode+aggregate form") {
    // the pre-round-10 shape, inlined as the reference: explode distinct
    // tokens -> h = pmod(tokenHash64, p) -> 64 min(pmod(h*a+b, p)) aggs
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha alpha alpha beta",  // duplicate tokens: min is idempotent
      3L -> "",                        // split("") = [""] -> one empty token
      4L -> "solo")
    val nHashes = 64
    val p = Dedup.minhashP
    val exploded = d
      .select(col("doc_id").as("id"),
        explode(array_distinct(graft.functions.Text.tokens(col("text")))).as("tok"))
      .select(col("id"), pmod(Dedup.tokenHash64(col("tok")), lit(p)).as("h"))
    val aggs = (0 until nHashes).map { i =>
      val (a, b) = Dedup.minhashCoeffs(i, 42L)
      min(pmod(col("h") * a + b, lit(p))).as(s"m$i")
    }
    val expected = exploded.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until nHashes).map(i => col(s"m$i")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val native = Dedup.minhashSignatures(d, "text", "doc_id", nHashes, 42L)
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == expected)
  }

  test("native minhash signature: null text drops the row; empty token array is null") {
    val d = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val ids = Dedup.minhashSignatures(d, "text", "doc_id", 16, 42L)
      .select("id").as[Long].collect().toSeq
    assert(ids == Seq(1L)) // null-text doc vanishes, like the explode form
    val emptyToks = Seq((9L, Seq.empty[String])).toDF("doc_id", "toks")
      .select(col("doc_id"),
        graft.functions.MinHash.signatureNative(col("toks"), 16, 42L).as("sig"))
    assert(emptyToks.filter(col("sig").isNull).count() == 1)
  }

  test("native sig_agree equals the interpreted zip_with/aggregate form") {
    val d = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),   // 3 agree
      (Seq(5L, 5L), Seq(5L, 5L)),                   // all agree
      (Seq(1L, 2L, 3L), Seq(1L, 2L)),               // length mismatch: common prefix
      (Seq.empty[Long], Seq(7L))                    // empty: zero
    ).toDF("a_sig", "b_sig")
    val hof = aggregate(
      zip_with(col("a_sig"), col("b_sig"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    val out = d.select(
      graft.functions.SigAgree.agreeCount(col("a_sig"), col("b_sig")).as("native"),
      hof.as("hof")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    // null array propagates null, like aggregate over a null array
    val withNull = Seq((Some(Seq(1L)), Option.empty[Seq[Long]]))
      .toDF("a_sig", "b_sig")
      .select(graft.functions.SigAgree.agreeCount(col("a_sig"), col("b_sig")).as("n"))
    assert(withNull.filter(col("n").isNull).count() == 1)
  }

  test("native simhash fingerprint is bit-equal to the explode+aggregate form") {
    // the pre-round-10 shape, inlined as the reference: explode distinct
    // tokens -> h = tokenHash64 -> 60 conditional-sum vote aggregates ->
    // fingerprint bit b set iff vote b is positive
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha alpha alpha beta",  // duplicates must NOT double-vote
      3L -> "",                        // split("") = [""] -> one empty token
      4L -> "solo")
    val nBits = 60
    val exploded = d
      .select(col("doc_id").as("id"),
        explode(array_distinct(graft.functions.Text.tokens(col("text")))).as("tok"))
      .select(col("id"), Dedup.tokenHash64(col("tok")).as("h"))
    val voteAggs = (0 until nBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"v$b")
    }
    val fingerprint = (0 until nBits)
      .map(b => when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce(_ + _)
    val expected = exploded.groupBy("id").agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("id"), fingerprint.as("simhash"))
      .as[(Long, Long)].collect().toMap
    val native = Dedup.simhashSignatures(d, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(native == expected)
  }

  test("native simhash: null text drops the row; empty token array is null") {
    val d = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val ids = Dedup.simhashSignatures(d, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSeq
    assert(ids == Seq(1L))
    val emptyToks = Seq((9L, Seq.empty[String])).toDF("doc_id", "toks")
      .select(col("doc_id"),
        graft.functions.SimHash.fingerprintNative(col("toks"), 60).as("fp"))
    assert(emptyToks.filter(col("fp").isNull).count() == 1)
  }

  test("simhashSignatures: identical docs equal, near docs close in hamming distance") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      3L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda",
      4L -> "q w e r t y u i o p")
    val h = Dedup.simhashSignatures(d, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    assert(hamming(h(1L), h(3L)) < hamming(h(1L), h(4L)))
  }

  /** Sequential union-find over the pair list: (id, min id of its
    * component) for every id in a pair — the CC contract, computed
    * independently of the engine. */
  private def unionFindLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("duplicateClustersLogN: min id propagates across chained pairs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 9L)).toDF("a_id", "b_id")
    val out = Dedup.duplicateClustersLogN(pairs)
      .as[(Long, Long)].collect().toMap
    // 1-2-3-9 is one component (rep 1), 5-6 another (rep 5)
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("duplicateClustersLogN: equals a sequential union-find on random graphs") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 40
      val edges = Seq.fill(n)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("a_id", "b_id")
      val expected = unionFindLabels(edges)
      val actual = Dedup.duplicateClustersLogN(pairs).as[(Long, Long)].collect().toMap
      assert(actual == expected, s"trial $trial diverged")
    }
  }

  test("duplicateClustersLogN: equals a sequential union-find on chain and star graphs") {
    val chain = (0L until 64L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(
      Dedup.duplicateClustersLogN(chain.toDF("a_id", "b_id")).as[(Long, Long)].collect().toMap ==
        unionFindLabels(chain))
    val star = (1L to 40L).map(i => (i, 0L))
    assert(
      Dedup.duplicateClustersLogN(star.toDF("a_id", "b_id")).as[(Long, Long)].collect().toMap ==
        unionFindLabels(star))
  }

  test("duplicateClustersLogN: O(log n) rounds on a 10k-edge chain") {
    // min-label propagation needs ~10k rounds here; large-star/small-star
    // must close it in O(log n). All 10001 nodes collapse to rep 0.
    // localFirst = false: this input sizes to ONE iteration partition, so
    // the default local-contraction pre-round would solve the whole chain
    // in its partition-local union-find and the round-bound assertion
    // would be vacuous (rounds == 1 regardless of the star loop's health)
    // — same pinning as the GC test below.
    val n = 10000L
    val chain = spark.range(n).select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    val (labels, rounds) = Dedup.duplicateClustersLogNWithRounds(chain, localFirst = false)
    assert(rounds <= 3 * (64 - java.lang.Long.numberOfLeadingZeros(n)),
      s"took $rounds rounds on a ${n}-edge chain")
    val out = labels.as[(Long, Long)].collect()
    assert(out.length == n + 1 && out.forall(_._2 == 0L))
  }

  test("CC loops converge on an EMPTY pair set instead of NPE-ing on a null SUM") {
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.duplicateClustersLogN(empty).count() == 0)
    assert(Dedup.duplicateClustersLogNWithRounds(empty, localFirst = true)._1.count() == 0)
  }

  test("localFirst contraction: labels identical, never more rounds (random/chain/clique)") {
    val rnd = new scala.util.Random(77)
    val graphs = Seq(
      // random multigraph
      Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (a, b) => a != b },
      // long chain — the adversarial depth case for local contraction
      (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq,
      // dense cliques — the dominant LSH-banding shape localFirst targets
      (0 until 5).flatMap { c =>
        val ids = (0 until 12).map(i => (c * 100 + i).toLong)
        for (a <- ids; b <- ids if a < b) yield (a, b)
      })
    graphs.zipWithIndex.foreach { case (edges, gi) =>
      val pairs = edges.toDF("a_id", "b_id")
      val (base, baseRounds) =
        Dedup.duplicateClustersLogNWithRounds(pairs, localFirst = false)
      val (local, localRounds) =
        Dedup.duplicateClustersLogNWithRounds(pairs, localFirst = true)
      assert(local.as[(Long, Long)].collect().toMap ==
        base.as[(Long, Long)].collect().toMap, s"graph $gi labels diverged")
      assert(localRounds <= baseRounds,
        s"graph $gi: localFirst took $localRounds rounds vs $baseRounds")
    }
  }

  test("CC reliable pins restore the caller's global checkpoint dir") {
    val sc = spark.sparkContext
    val appDir = java.nio.file.Files.createTempDirectory("graft-app-ckpt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-restore").toString
    val before = sc.getCheckpointDir
    try {
      // the app's own reliable checkpoint location, set before the loop
      sc.setCheckpointDir(appDir)
      val appResolved = sc.getCheckpointDir
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
      Dedup.duplicateClustersLogN(pairs, checkpointDir = Some(ckpt)).count()
      // without the restore, the global dir is left at the loop's LAST pin
      // directory — which the documented caller-GC contract then deletes,
      // destroying any later app checkpoint written there
      assert(sc.getCheckpointDir == appResolved,
        s"CC loop clobbered the global checkpoint dir: ${sc.getCheckpointDir}")
    } finally sc.setCheckpointDir(before.orNull)
  }

  test("band geometry that does not divide the signature is rejected at every entry point") {
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    // a truncating nHashes/nBands would silently ignore signature positions;
    // nBands > nHashes would give every doc identical band keys (cross-join
    // degeneration) — fail loudly instead
    intercept[IllegalArgumentException] {
      Dedup.minhashCandidates(docs, nHashes = 64, nBands = 5)
    }
    intercept[IllegalArgumentException] {
      Dedup.writeBandIndex(docs,
        java.nio.file.Files.createTempDirectory("graft-badband").toString,
        nHashes = 8, nBands = 16)
    }
  }

  test("CC reliable-checkpoint mode: both loops agree with localCheckpoint mode, files land in the dir") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 9L)).toDF("a_id", "b_id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L)
    val viaReliable = Dedup.duplicateClustersLogNWithRounds(
      pairs, checkpointDir = Some(ckpt), localFirst = false)._1
      .as[(Long, Long)].collect().toMap
    val viaReliableLogN = Dedup.duplicateClustersLogN(pairs, checkpointDir = Some(ckpt))
      .as[(Long, Long)].collect().toMap
    assert(viaReliable == expected)
    assert(viaReliableLogN == expected)
    // reliable mode actually wrote checkpoint RDDs (the executor-loss-safe
    // copies localCheckpoint doesn't make)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, s"no checkpoint files under $ckpt")
  }

  test("CC reliable checkpoints GC spent rounds: only the trailing round dirs remain") {
    // without GC the loop grows the dir by one edge-set per round (Spark
    // only deletes reliable checkpoints via the ContextCleaner, not set
    // up here); after convergence only round R-1 and R may survive
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-gc").toString
    val n = 2000L
    val chain = spark.range(n).select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    // localFirst = false: under the default, the single iteration partition
    // this spec's sizing produces lets the contraction pre-round solve the
    // whole chain and the loop converges before the GC path ever runs
    val (labels, rounds) = Dedup.duplicateClustersLogNWithRounds(
      chain, checkpointDir = Some(ckpt), localFirst = false)
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 0L))
    assert(rounds >= 3, s"need >= 3 rounds to exercise the GC path, got $rounds")
    // pins live under per-Pinner-instance roots (pinner-N/pin-M) so one
    // loop's GC can never delete another loop's live checkpoint; this run's
    // loop used exactly one instance, and within it only the trailing
    // transient rounds (plus never-GC'd durable pins) may survive
    val instanceRoots = new java.io.File(ckpt).listFiles()
      .filter(_.getName.startsWith("pinner-"))
    assert(instanceRoots.length == 1,
      s"one CC loop should pin under one instance root: ${instanceRoots.map(_.getName).mkString(", ")}")
    val left = instanceRoots.head.listFiles()
      .filter(_.getName.startsWith("pin-")).map(_.getName).sorted
    assert(left.length <= 2, s"stale checkpoint rounds not GC'd: ${left.mkString(", ")}")
  }

  test("isolatedCopy replays the caller's runtime conf onto the private CC session") {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try {
      val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
      val labels = Dedup.duplicateClustersLogN(pairs)
      assert(labels.sparkSession ne spark)
      // the private session must plan under the caller's semantics
      assert(labels.sparkSession.conf.get(key) == "America/New_York")
      assert(labels.count() == 2)
    } finally spark.conf.set(key, before)
  }

  test("CC runs on an isolated session: caller conf untouched while the loop runs") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    @volatile var running = true
    @volatile var seen = Vector.empty[String]
    // Poll the CALLER session's conf concurrently with the CC loop: the
    // loop shrinks shuffle partitions per-round, and before round 4's
    // isolation that mutation was visible to any concurrently-planned
    // query on the same session.
    val poller = new Thread(() => while (running) {
      seen :+= spark.conf.get(key); Thread.sleep(2)
    })
    poller.start()
    try {
      val chain = spark.range(4000)
        .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      val labels = Dedup.duplicateClustersLogN(chain)
      // the loop's frames live on a private newSession(), not the caller's
      assert(labels.sparkSession ne spark)
      assert(labels.count() == 4001)
    } finally { running = false; poller.join() }
    assert(seen.nonEmpty && seen.forall(_ == before), seen.distinct.toString)
    assert(spark.conf.get(key) == before)
  }

  test("dedupAgainstHistory drops incoming rows whose content exists in history") {
    val history = docs(1L -> "seen before", 2L -> "also seen")
    val incoming = docs(10L -> "seen before", 11L -> "genuinely new", 12L -> "also seen")
    val kept = Dedup.dedupAgainstHistory(history, incoming)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(11L))
    // anti-join must come from the fp equality, not ids
    assert(Dedup.dedupAgainstHistory(history, docs(1L -> "different text now"))
      .count() == 1)
  }

  test("fingerprint index: probe matches dedupAgainstHistory; append-then-dedup == recompute-from-scratch") {
    val h0 = docs(1L -> "seen before", 2L -> "also seen")
    val b1 = docs(10L -> "seen before", 11L -> "fresh one", 12L -> "fresh two")
    val b2 = docs(
      20L -> "also seen",     // collides with base history
      21L -> "fresh one",     // collides with batch-1 ACCEPTED (append must catch it)
      22L -> "never before")  // genuinely new
    val idx = java.nio.file.Files.createTempDirectory("graft-fp-idx").toString + "/idx"

    // generation 0: index == history, probe must agree with the text form
    Dedup.writeFingerprintIndex(h0, idx)
    val acc1 = Dedup.dedupAgainstFingerprintIndex(spark, idx, b1)
    assert(acc1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(11L, 12L),
      "batch-1 probe must drop the history collision and keep the fresh rows")
    assert(acc1.select("doc_id").as[Long].collect().sorted.toSeq ==
      Dedup.dedupAgainstHistory(h0, b1).select("doc_id").as[Long].collect().sorted.toSeq)

    // generation 1: append batch-1 survivors, dedup batch 2 against the
    // appended index — must equal BOTH (a) an index rebuilt from scratch
    // over h0 ∪ accepted, and (b) the unindexed text form over the same
    val acc1Rows = acc1.select("doc_id", "text")
    assert(Dedup.appendFingerprintIndex(acc1Rows, idx, generation = 1L))
    val viaAppend = Dedup.dedupAgainstFingerprintIndex(spark, idx, b2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val idx2 = java.nio.file.Files.createTempDirectory("graft-fp-idx2").toString + "/idx"
    Dedup.writeFingerprintIndex(h0.unionByName(acc1Rows), idx2)
    val viaRebuild = Dedup.dedupAgainstFingerprintIndex(spark, idx2, b2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaText = Dedup.dedupAgainstHistory(h0.unionByName(acc1Rows), b2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaAppend == Seq(22L), viaAppend.toString)
    assert(viaAppend == viaRebuild && viaAppend == viaText)

    // a retried (replayed) append is a no-op: its generation directory
    // already exists, so publishDir declines — all-or-nothing semantics
    assert(!Dedup.appendFingerprintIndex(acc1Rows, idx, generation = 1L))
    assert(Dedup.dedupAgainstFingerprintIndex(spark, idx, b2)
      .select("doc_id").as[Long].collect().toSeq == Seq(22L))
  }

  test("index readability: layout-only debris reads as bootstrap, not as an index") {
    // the crash window between mkdirs+writeLayout and the first
    // generation's atomic publish leaves only _GRAFT_LAYOUT — detection by
    // bare fs.exists would send a replay down the probe path, which throws
    // on the data-less read and crash-loops forever (round-9 advice)
    val root = java.nio.file.Files.createTempDirectory("graft-idx-debris").toString
    val fpDebris = s"$root/fp"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(fpDebris))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(fpDebris, "_GRAFT_LAYOUT"), "mod=16")
    assert(!Dedup.fingerprintIndexReadable(spark, fpDebris))
    assert(!Dedup.fingerprintIndexReadable(spark, s"$root/never-created"))
    val fpReal = s"$root/fp-real"
    Dedup.writeFingerprintIndex(docs(1L -> "hello"), fpReal)
    assert(Dedup.fingerprintIndexReadable(spark, fpReal))

    // band index: a sigs-only prefix (crash between the two publishes) is
    // also bootstrap — the probe would throw on the missing bands table
    val bandReal = s"$root/band"
    Dedup.writeBandIndex(docs(1L -> "hello world one two"), bandReal)
    assert(Dedup.bandIndexReadable(spark, bandReal))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(bandReal), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$bandReal/bands"), true)
    assert(!Dedup.bandIndexReadable(spark, bandReal))
  }

  test("index probes leave no cache entries behind (steady-state ingest loop)") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx-nocache").toString
    Dedup.writeFingerprintIndex(docs(1L -> "seen before"), s"$root/fp")
    Dedup.writeBandIndex(docs(1L -> "alpha beta gamma delta"), s"$root/band")
    spark.catalog.clearCache()
    Dedup.dedupAgainstFingerprintIndex(spark, s"$root/fp", docs(2L -> "fresh")).count()
    Dedup.dedupAgainstBandIndex(spark, s"$root/band", docs(2L -> "epsilon zeta")).count()
    // the lazy candidate generators too: their multi-branch reuse must be
    // checkpoint-based, not persist-based — a persist inside a function
    // returning a lazy result has no safe unpersist point (review finding)
    Dedup.minhashCandidates(docs(3L -> "one two three four")).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a probe registered a cached relation it never unpersists — one leak per micro-batch")
  }

  test("fingerprint-index fold: one generation dir survives, probes unchanged, crash windows benign") {
    val h0 = docs(1L -> "seen before", 2L -> "also seen")
    val idx = java.nio.file.Files.createTempDirectory("graft-fp-fold").toString + "/idx"
    Dedup.writeFingerprintIndex(h0, idx)
    Dedup.appendFingerprintIndex(docs(11L -> "fresh one"), idx, generation = 1L)
    Dedup.appendFingerprintIndex(docs(21L -> "fresh two"), idx, generation = 2L)
    Dedup.appendFingerprintIndex(docs(31L -> "fresh three"), idx, generation = 3L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    def genDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(genDirs() == Seq("batch=0", "batch=1", "batch=2", "batch=3"),
      "one immutable directory per publish before the fold")
    val probe = docs(
      40L -> "seen before", 41L -> "fresh one", 42L -> "fresh two",
      43L -> "fresh three", 44L -> "genuinely new")
    def survivors() = Dedup.dedupAgainstFingerprintIndex(spark, idx, probe)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors() == Seq(44L))

    // fold generations ≤ 2: directory count drops, membership unchanged
    Dedup.compactFingerprintIndex(spark, idx, 2L)
    assert(genDirs() == Seq("batch=2", "batch=3"))
    assert(survivors() == Seq(44L), "the fold must not change probe results")
    assert(spark.read.parquet(idx).count() == 5) // 4 folded + 1 in batch=3

    // crash window A: swap interrupted between renames — the consolidated
    // generation is parked in __old; the startup recovery restores it
    Dedup.appendFingerprintIndex(docs(51L -> "fresh four"), idx, generation = 4L)
    fs.mkdirs(new org.apache.hadoop.fs.Path(idx + graft.sinks.Sinks.OldSuffix))
    fs.rename(
      new org.apache.hadoop.fs.Path(idx, "batch=4"),
      new org.apache.hadoop.fs.Path(idx + graft.sinks.Sinks.OldSuffix, "batch=4"))
    graft.sinks.Sinks.recoverPartitions(spark, idx)
    assert(genDirs() == Seq("batch=2", "batch=3", "batch=4"))

    // crash window B: post-swap, folded originals not yet deleted — pure
    // duplicates, invisible to a membership probe; the re-run folds them
    // (a real crash leaves the original PARTITIONED generation dir behind,
    // so the simulation must re-create the fpp layout, not a flat dir)
    val dup = spark.read.parquet(s"$idx/batch=2").drop("batch")
    dup.write.partitionBy("fpp").parquet(s"$idx/batch=1")
    assert(survivors() == Seq(44L), "duplicate generations are membership-invisible")
    Dedup.compactFingerprintIndex(spark, idx, 4L)
    assert(genDirs() == Seq("batch=4"))
    assert(survivors() == Seq(44L))
    assert(spark.read.parquet(idx).count() == 6,
      "the fold's distinct restores one row per doc")
  }

  test("band index: probe rejects near-duplicates of history; append participates; append == rebuild") {
    val h = docs(
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      4L -> "one two three four five six seven eight")
    val idx = java.nio.file.Files.createTempDirectory("graft-band-idx").toString + "/idx"
    // 16 bands × 4 rows: LSH match threshold ≈ (1/16)^(1/4) ≈ 0.5, so a
    // jaccard-0.78 near-dup collides with near-certainty — the default
    // (4 × 16) banding targets ~0.92 and would correctly let it pass
    Dedup.writeBandIndex(h, idx, nBands = 16)
    // batch 1: an exact replay (est 1.0), a ONE-TOKEN near-dup (true
    // jaccard 7/9 — est lands well above the 0.5 gate used here), fresh text
    val b1 = docs(
      11L -> "alpha beta gamma delta epsilon zeta eta theta", // exact replay of 2
      13L -> "one two three four five six seven NINE",        // near-dup of 4
      15L -> "completely different words nothing shared here at all")
    def probe(batch: org.apache.spark.sql.DataFrame, path: String) =
      Dedup.dedupAgainstBandIndex(spark, path, batch, nBands = 16, minEstJaccard = 0.5)
        .select("doc_id").as[Long].collect().sorted.toSeq
    val acc1 = probe(b1, idx)
    assert(acc1 == Seq(15L),
      "the exact replay AND the one-token near-dup must both drop — near-dup is the point")

    // append batch-1 survivors; batch 2 near-dups of THEM must now drop
    val acc1Rows = b1.filter(col("doc_id") === 15L)
    assert(Dedup.appendBandIndex(acc1Rows, idx, generation = 1L, nBands = 16))
    val b2 = docs(
      21L -> "completely different words nothing shared here at all", // replay of 15
      22L -> "genuinely novel content appearing for the first time")
    val viaAppend = probe(b2, idx)
    assert(viaAppend == Seq(22L), "the appended generation must participate in the probe")
    // append-then-probe == an index rebuilt from scratch over h ∪ accepted
    val idx2 = java.nio.file.Files.createTempDirectory("graft-band-idx2").toString + "/idx"
    Dedup.writeBandIndex(h.unionByName(acc1Rows), idx2, nBands = 16)
    assert(viaAppend == probe(b2, idx2))
    // a replayed append is a no-op (generation exists)
    assert(!Dedup.appendBandIndex(acc1Rows, idx, generation = 1L))
  }

  test("band index: a batch's own published rows are invisible to its replayed probe") {
    // the ingest loop's crash window: band generations publish BEFORE the
    // fp commit point, so a replay probes an index already containing the
    // batch's own rows — acceptance must recompute IDENTICALLY, including
    // for intra-batch near-pairs (26 vs 27 below would otherwise reject
    // each other on replay)
    val h = docs(2L -> "alpha beta gamma delta epsilon zeta eta theta")
    val idx = java.nio.file.Files.createTempDirectory("graft-band-replay").toString + "/idx"
    Dedup.writeBandIndex(h, idx)
    val b1 = docs(
      25L -> "alpha beta gamma delta epsilon zeta eta theta", // rejected vs history
      26L -> "one two three four five six seven eight",
      27L -> "one two three four five six seven eight")       // intra-batch pair with 26
    def probe() = Dedup.dedupAgainstBandIndex(spark, idx, b1, minEstJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val first = probe()
    assert(first == Seq(26L, 27L),
      "this operator dedups against HISTORY only — intra-batch dedup is the exact stage's job")
    Dedup.appendBandIndex(b1.filter(col("doc_id") > 24L), idx, generation = 1L)
    assert(probe() == first, "replay acceptance must not see the batch's own generation")
  }

  test("band index: maxBandCollisions excludes degenerate hot bands (escape valve)") {
    val boiler = "identical boilerplate repeated across the whole mirror set"
    val h = docs((1L to 5L).map(i => i -> boiler): _*)
    val idx = java.nio.file.Files.createTempDirectory("graft-band-hot").toString + "/idx"
    Dedup.writeBandIndex(h, idx)
    val b = docs(10L -> boiler)
    // uncapped: the replay is rejected through the 5-member hot bands
    assert(Dedup.dedupAgainstBandIndex(spark, idx, b, minEstJaccard = 0.5).count() == 0)
    // capped below the cluster size: hot bands excluded, the replay passes —
    // identical content is the EXACT stage's responsibility, which runs
    // first in the ingest composition
    assert(Dedup.dedupAgainstBandIndex(
      spark, idx, b, minEstJaccard = 0.5, maxBandCollisions = 4).count() == 1)
  }

  test("band index fold: generations collapse, probes unchanged") {
    val h = docs(2L -> "alpha beta gamma delta epsilon zeta eta theta")
    val idx = java.nio.file.Files.createTempDirectory("graft-band-fold").toString + "/idx"
    Dedup.writeBandIndex(h, idx)
    Dedup.appendBandIndex(docs(11L -> "one two three four five six seven eight"), idx, 1L)
    Dedup.appendBandIndex(docs(21L -> "completely different words nothing shared here at all"), idx, 2L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    def gens(sub: String) = fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/$sub"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(gens("sigs") == Seq("batch=0", "batch=1", "batch=2") && gens("sigs") == gens("bands"))
    val probe = docs(
      31L -> "alpha beta gamma delta epsilon zeta eta theta",
      32L -> "one two three four five six seven eight",
      33L -> "completely different words nothing shared here at all",
      34L -> "genuinely novel content appearing for the first time")
    def survivors() = Dedup.dedupAgainstBandIndex(spark, idx, probe, minEstJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors() == Seq(34L))
    Dedup.compactBandIndex(spark, idx, 2L)
    assert(gens("sigs") == Seq("batch=2") && gens("bands") == Seq("batch=2"))
    assert(survivors() == Seq(34L), "the fold must not change probe results")
  }

  test("jaccardTokens exact set semantics") {
    val j = Seq(("a b c d", "c d e f")).toDF("x", "y")
      .select(Dedup.jaccardTokens(col("x"), col("y"))).as[Double].head()
    assert(math.abs(j - 2.0 / 6.0) < 1e-12)
  }

  test("index probes partition-prune: a small batch reads a fraction of the index directories") {
    // 300 distinct docs spread hashed prefixes over most of an explicit
    // 64-way layout (the production-install sizing path); a ONE-doc probe
    // must select only its own prefixes' directories, not the whole index
    // — the numeric form of the PlanAuditSpec partition-filter assertions
    val h = docs((1L to 300L).map(i => i -> s"history document number $i"): _*)
    def leafScans(df: org.apache.spark.sql.DataFrame, marker: String) = {
      val phys = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      phys.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString.contains(marker) => f
      }
    }
    locally {
      val idx = java.nio.file.Files.createTempDirectory("graft-fp-prune").toString + "/fpidx"
      Dedup.writeFingerprintIndex(h, idx, bpMod = Some(64))
      val out = Dedup.dedupAgainstFingerprintIndex(spark, idx, docs(9001L -> "a fresh probe doc"))
      val scan = leafScans(out, "fpidx").head
      val selected = scan.selectedPartitions.partitionCount
      // one probe doc = one fp prefix of 64; the index populates ~60+
      assert(selected <= 2, s"probe read $selected partitions — no directory pruning")
    }
    locally {
      val idx = java.nio.file.Files.createTempDirectory("graft-band-prune").toString + "/bandidx"
      Dedup.writeBandIndex(h, idx, nBands = 16, bpMod = Some(64))
      val out = Dedup.dedupAgainstBandIndex(
        spark, idx, docs(9001L -> "a fresh probe doc"), nBands = 16, minEstJaccard = 0.5)
      val scan = leafScans(out, "bandidx").filter(_.schema.fieldNames.contains("band")).head
      val selected = scan.selectedPartitions.partitionCount
      // one probe doc = ≤16 band prefixes of 64 vs the index's ~60+ populated
      assert(selected <= 16, s"probe read $selected partitions — no directory pruning")
    }
    // an index built without an explicit modulus derives it from scale:
    // small corpus → the 16-dir floor, not 256 near-empty directories
    assert(Dedup.indexDirCount(300) == 16)
    assert(Dedup.indexDirCount(300L << 20) == 256)
  }

  test("property: native sig_agree equals the HOF form on random signatures") {
    // randomized shapes (ragged lengths, empties, value collisions), not
    // just the four hand-picked rows above — one Spark job for all cases
    import org.scalacheck.Gen
    val sigPair = for {
      la <- Gen.choose(0, 70)
      lb <- Gen.choose(0, 70)
      a  <- Gen.listOfN(la, Gen.choose(-3L, 3L))
      b  <- Gen.listOfN(lb, Gen.choose(-3L, 3L))
    } yield (a, b)
    val cases = Gen.listOfN(200, sigPair).sample.getOrElse(Nil)
    assert(cases.nonEmpty)
    val out = cases.toDF("a_sig", "b_sig").select(
      SigAgree.agreeCount(col("a_sig"), col("b_sig")).as("native"),
      aggregate(
        zip_with(col("a_sig"), col("b_sig"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x).as("hof")).collect()
    assert(out.length == cases.length)
    out.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("eval index: build + append + probe gates on shared winnow fingerprints") {
    val root = java.nio.file.Files.createTempDirectory("graft-eval-idx").toString
    val idx = s"$root/eval"
    // two "benchmark suites": gen 0 installed, gen 1 appended
    Dedup.writeEvalIndex(docs(
      100L -> "the quick brown fox jumps over the lazy dog tonight"), idx)
    assert(Dedup.evalIndexReadable(spark, idx))
    assert(Dedup.appendEvalIndex(docs(
      200L -> "pack my box with five dozen liquor jugs again today"), idx, generation = 1L))
    // replayed append is a no-op (generation already published)
    assert(!Dedup.appendEvalIndex(docs(
      200L -> "pack my box with five dozen liquor jugs again today"), idx, generation = 1L))

    val batch = docs(
      // verbatim ≥6-token run from the gen-0 suite → contaminated
      1L -> "report says the quick brown fox jumps over the lazy dog tonight indeed",
      // verbatim run from the APPENDED suite → contaminated via gen 1
      2L -> "he would pack my box with five dozen liquor jugs again today he said",
      // shares words but no 6-token run → survives
      3L -> "quick dog and lazy fox discuss liquor jugs",
      // shorter than k tokens: no fingerprints, always survives
      4L -> "hi")
    val survivors = Dedup.dedupAgainstEvalIndex(spark, idx, batch)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(3L, 4L), survivors.toString)

    // the report attributes each contaminated doc to its colliding eval
    // docs: doc 1 quotes only the gen-0 suite, doc 2 only the appended one
    val report = Dedup.evalContaminationReport(spark, idx, batch)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(report.map(r => (r._1, r._2)) == Seq((1L, 1L), (2L, 1L)), report.toString)
    assert(report.forall(_._3 >= 1), report.toString)

    // probe agrees with the direct winnow-fp collision join (the q55 form)
    val evalFps = Text.winnowFingerprints(docs(
        100L -> "the quick brown fox jumps over the lazy dog tonight",
        200L -> "pack my box with five dozen liquor jugs again today"),
      "text", "doc_id").select("fp")
    val direct = Text.winnowFingerprints(batch, "text", "doc_id")
      .join(evalFps, Seq("fp"), "left_semi")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(direct == Set(1L, 2L))

    // fold: generations consolidate, acceptance is unchanged
    Dedup.compactEvalIndex(spark, idx, upToGen = 1L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    assert(gens == Seq("batch=1"), gens.toString)
    assert(Dedup.dedupAgainstEvalIndex(spark, idx, batch)
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))

    // minSharedFps above the overlap: doc 1 shares a bounded fp set with
    // the suite; an impossible threshold lets everything through
    assert(Dedup.dedupAgainstEvalIndex(spark, idx, batch, minSharedFps = 1000)
      .count() == 4)

    // layout-only debris reads as bootstrap, not as an index
    val debris = s"$root/debris"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(debris))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(debris, "_GRAFT_LAYOUT"), "k=3|w=4")
    assert(!Dedup.evalIndexReadable(spark, debris))
  }

  test("eval index: a crashed install swap self-heals on the next readable check") {
    val root = java.nio.file.Files.createTempDirectory("graft-eval-swap").toString
    val idx = s"$root/eval"
    Dedup.writeEvalIndex(docs(
      100L -> "the quick brown fox jumps over the lazy dog tonight"), idx)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    // crash window between swapIn's two renames: the live index is parked
    // at __old — a bare readable check would say "no index" and the gate
    // would fail open until a manual restore
    fs.rename(new org.apache.hadoop.fs.Path(idx),
      new org.apache.hadoop.fs.Path(idx + "__old"))
    assert(Dedup.evalIndexReadable(spark, idx),
      "readable check must restore the parked install")
    val batch = docs(
      1L -> "report says the quick brown fox jumps over the lazy dog tonight indeed",
      2L -> "nothing shared with the suite here at all today")
    assert(Dedup.dedupAgainstEvalIndex(spark, idx, batch)
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))

    // a REINSTALL over the live index stages + swaps: the old suites stay
    // probe-visible until the new install is complete (no delete window),
    // and the probe cache keys on the generation listing, so the swapped-in
    // blocklist is picked up immediately
    Dedup.writeEvalIndex(docs(
      300L -> "pack my box with five dozen liquor jugs again today"), idx)
    val after = Dedup.dedupAgainstEvalIndex(spark, idx, docs(
        1L -> "report says the quick brown fox jumps over the lazy dog tonight indeed",
        2L -> "he would pack my box with five dozen liquor jugs again today he said"))
      .select("doc_id").as[Long].collect().toSeq
    assert(after == Seq(1L), s"reinstalled blocklist must gate (and only it): $after")
  }

  test("eval index: a generation a crashed fold left parked still gates the probe") {
    val root = java.nio.file.Files.createTempDirectory("graft-eval-fold").toString
    val idx = s"$root/eval"
    Dedup.writeEvalIndex(docs(
      100L -> "the quick brown fox jumps over the lazy dog tonight"), idx)
    assert(Dedup.appendEvalIndex(docs(
      200L -> "pack my box with five dozen liquor jugs again today"), idx, generation = 1L))
    // the state between a fold's park and install renames: generation 1
    // parked at <eval>__old/batch=1 — the trash root a crashed install
    // parks the whole index at — while <eval> itself still exists
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(idx + "__old"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(idx, "batch=1"),
      new org.apache.hadoop.fs.Path(idx + "__old", "batch=1")))
    val batch = docs(
      1L -> "he would pack my box with five dozen liquor jugs again today he said",
      2L -> "nothing shared with the suite here at all today")
    assert(Dedup.dedupAgainstEvalIndex(spark, idx, batch)
      .select("doc_id").as[Long].collect().toSeq == Seq(2L),
      "a doc copying the parked generation's suite must be flagged")
    assert(fs.exists(new org.apache.hadoop.fs.Path(idx, "batch=1")))
  }

  test("eval index: a reinstall's uncollected trash does not leak the old suites into the blocklist") {
    val root = java.nio.file.Files.createTempDirectory("graft-eval-trash").toString
    val idx = s"$root/eval"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    // suite A: generations 0 and 1
    Dedup.writeEvalIndex(docs(
      100L -> "the quick brown fox jumps over the lazy dog tonight"), idx)
    assert(Dedup.appendEvalIndex(docs(
      200L -> "pack my box with five dozen liquor jugs again today"), idx, generation = 1L))
    val suiteA = new org.apache.hadoop.fs.Path(s"$root/suite_a")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(idx),
      fs, suiteA, false, spark.sparkContext.hadoopConfiguration))
    // suite B reinstalls generation 0 only; then the state a crash leaves
    // between swapIn's install rename and its trash delete: B live, the
    // whole of A parked at <eval>__old
    Dedup.writeEvalIndex(docs(
      300L -> "sphinx of black quartz judge my vow before the dawn"), idx)
    def parkA(): Unit = assert(org.apache.hadoop.fs.FileUtil.copy(fs, suiteA,
      fs, new org.apache.hadoop.fs.Path(idx + "__old"), false,
      spark.sparkContext.hadoopConfiguration))
    val batch = docs(
      1L -> "report says the quick brown fox jumps over the lazy dog tonight indeed",
      2L -> "he would pack my box with five dozen liquor jugs again today he said",
      3L -> "they cried sphinx of black quartz judge my vow before the dawn came")
    def flagged = Dedup.contaminatedIds(spark, idx, batch)
      .select("doc_id").as[Long].collect().sorted.toSeq
    parkA()
    assert(flagged == Seq(3L), s"only the reinstalled suite may gate: $flagged")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + "__old")))
    // the startup sweep sees the same trash the same way
    parkA()
    PersistedIndex.Eval.recover(spark, idx)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(idx)).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).toSeq == Seq("batch=0"))
    assert(flagged == Seq(3L), s"only the reinstalled suite may gate after recovery: $flagged")
  }

  test("eval index: a probe leaves an in-flight fold's staging to the fold") {
    val root = java.nio.file.Files.createTempDirectory("graft-eval-stage").toString
    val idx = s"$root/eval"
    Dedup.writeEvalIndex(docs(
      100L -> "the quick brown fox jumps over the lazy dog tonight"), idx)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    // a fold staging its consolidated generation, its marker not yet written
    val staged = new org.apache.hadoop.fs.Path(idx + "__tmp", "batch=1")
    fs.mkdirs(staged)
    assert(Dedup.evalIndexReadable(spark, idx))
    assert(fs.exists(staged), "a probe cleared the fold's staged generation")
    // the writer-side recovery (startup sweep, the fold's own first step)
    // clears staging an aborted fold left
    PersistedIndex.Eval.recover(spark, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + "__tmp")))
  }

  test("eval index: an over-ceiling blocklist degrades to the distributed probe, same answer") {
    // a suite too big to collect + broadcast must not OOM — the probe falls
    // back to a shuffle semi-join against the index table and the gate's
    // answer is identical (the ceiling is shrunk to 1 row to force the path)
    val root = java.nio.file.Files.createTempDirectory("graft-eval-big").toString
    val idx = s"$root/eval"
    Dedup.writeEvalIndex(docs(
      100L -> "the quick brown fox jumps over the lazy dog tonight",
      200L -> "pack my box with five dozen liquor jugs again today"), idx)
    val batch = docs(
      1L -> "report says the quick brown fox jumps over the lazy dog tonight indeed",
      2L -> "he would pack my box with five dozen liquor jugs again today he said",
      3L -> "quick dog and lazy fox discuss liquor jugs")
    sys.props("graft.evalIndex.broadcastMaxRows") = "1"
    try {
      val survivors = Dedup.dedupAgainstEvalIndex(spark, idx, batch)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(survivors == Seq(3L), survivors.toString)
      val report = Dedup.evalContaminationReport(spark, idx, batch)
        .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
      assert(report.map(_._1) == Seq(1L, 2L), report.toString)
    } finally sys.props.remove("graft.evalIndex.broadcastMaxRows")
  }

  test("eval index: probe winnows under the INDEX's recorded geometry, not the caller's") {
    // an index built at k=5 must collide 7-token runs hashed at k=5 even
    // though the probe caller never states the geometry — the layout
    // travels with the index (the fp index's modulus argument)
    val root = java.nio.file.Files.createTempDirectory("graft-eval-geom").toString
    val idx = s"$root/eval"
    Dedup.writeEvalIndex(docs(
      100L -> "one two three four five six seven eight nine ten"), idx, k = 5, w = 2)
    val batch = docs(
      1L -> "prefix one two three four five six seven eight nine ten suffix",
      2L -> "totally unrelated content with nothing shared at all here")
    val survivors = Dedup.dedupAgainstEvalIndex(spark, idx, batch)
      .select("doc_id").as[Long].collect().toSeq
    assert(survivors == Seq(2L), survivors.toString)
  }
}
