package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline.{BatchPipeline, IngestPipeline, StreamPipeline}

/** `spark-submit`-shaped deployment entry: the one class a standalone
  * cluster runs, mirroring how the reference deploys its jobs (a
  * spark-submit of one script per job from the cluster driver pod —
  * `bigdata-project/k8s/app-deployment.yaml:113-121`). The cluster
  * specifics (master URL, driver host/ports, executor sizing) live in the
  * conf template `conf/graft-submit.conf` passed via
  * `--properties-file`, NOT in code: [[main]] builds its session from
  * whatever the submit provided (no `.master()` override — identical to
  * how every production Spark app must behave), and only layers the
  * engine's semantic defaults on top ([[GraftSession.builder]] minus
  * master/partitions, which the conf owns at deploy time).
  *
  * Usage: `spark-submit --class graft.Submit --properties-file
  * conf/graft-submit.conf graft.jar <job> key=value ...`
  *
  * Jobs (each a named composition the library already exposes):
  *   - `batch`: one date-partition of the events lake through
  *     [[BatchPipeline.run]] (the reference's spark_batch_v2 role).
  *     Args: `lake=<dir> out=<dir> date=yyyy-MM-dd`.
  *   - `stream`: a line-JSON event stream through [[StreamPipeline]]'s
  *     single-pass fan-out (the spark_streaming_v2 role). Args:
  *     `source=files|kafka`, `in=<dir>` (files) or
  *     `brokers=…,topic=…` (kafka; connector jar at deploy time),
  *     `out=<dir> checkpoint=<dir>`.
  *   - `ingest`: the crash-safe exactly-once training-data ingest loop
  *     ([[IngestPipeline.start]]) over a parquet file stream. Args:
  *     `in=<dir> root=<dir> checkpoint=<dir>`, optional
  *     `neardup=true decontam=true spanscrub=true maintainEvery=<n>
  *     ivfHealth=true pqHealth=true qualitygate=true minScore=<e4>
  *     perplexity=<maxPplE4>` (`ivfHealth=true`, `pqHealth=true` and `spanscrub=true` each imply
  *     maintenance at the default cadence — the health monitor and the
  *     hot-list refresh only run there; `decontam=true` expects an eval
  *     index installed under `<root>/eval_index` via
  *     [[graft.functions.Dedup.writeEvalIndex]]; `qualitygate=true` and
  *     `perplexity=<maxPplE4>` expect model artifacts installed under
  *     `<root>/quality_model` ([[graft.functions.QualityClassifier.writeModel]])
  *     and `<root>/lm_model` ([[graft.functions.LangModel.train]])).
  */
object Submit {

  /** job name → (session, options) runner. Streaming jobs return after
    * starting their queries; [[main]] owns awaitAnyTermination. */
  val jobs: Map[String, (SparkSession, Map[String, String]) => Unit] = Map(
    "batch" -> { (spark, opt) =>
      val r = BatchPipeline.run(
        spark, req(opt, "lake"), req(opt, "out"), req(opt, "date"))
      println(s"[graft.Submit] batch: detail=${r.detailRows} aggs=${r.aggTables}")
    },
    "stream" -> { (spark, opt) =>
      val source = opt.getOrElse("source", "files")
      val raw = source match {
        case "files" =>
          // the text source already yields the one `value` column decode expects
          spark.readStream.format("text").load(req(opt, "in"))
        case "kafka" =>
          // connector topology is config: the jar arrives via the submit's
          // --packages, exactly as the reference ships it
          StreamPipeline.fromKafka(
            spark.readStream.format("kafka")
              .option("kafka.bootstrap.servers", req(opt, "brokers"))
              .option("subscribe", req(opt, "topic"))
              .load())
        case other => sys.error(s"unknown stream source '$other' (files|kafka)")
      }
      StreamPipeline.startFanOut(
        StreamPipeline.decode(raw), req(opt, "out"), req(opt, "checkpoint"))
      ()
    },
    "ingest" -> { (spark, opt) =>
      val paths = IngestPipeline.IngestPaths(req(opt, "root"))
      val nearDup =
        if (boolOpt(opt, "neardup")) Some(IngestPipeline.NearDupConfig())
        else None
      // a drift monitor runs on the maintenance cadence, so asking for one
      // implies maintenance: construct the config when EITHER option is
      // present — `ivfHealth=true` without `maintainEvery` used to be
      // silently ignored (the operator believed the monitor was running;
      // review finding). `ivfHealth=true` watches the int8 index,
      // `pqHealth=true` the IVF-PQ one.
      val health = Seq(
        "ivfHealth" -> IngestPipeline.IvfFamily.Int8,
        "pqHealth" -> IngestPipeline.IvfFamily.IvfPq).collect {
        case (key, family) if boolOpt(opt, key) => IngestPipeline.HealthConfig(family)
      }
      // the span scrub's hot list refreshes ONLY inside maintenance, so
      // asking for the scrub implies maintenance too — without it the
      // stage would arm but never fire (the ivfHealth failure mode again)
      val spanScrub =
        if (boolOpt(opt, "spanscrub")) Some(IngestPipeline.SpanScrubConfig())
        else None
      val maintenance =
        if (opt.contains("maintainEvery") || health.nonEmpty || spanScrub.isDefined)
          Some(IngestPipeline.MaintenanceConfig(
            everyNBatches = opt.get("maintainEvery").map(_.toInt)
              .getOrElse(IngestPipeline.MaintenanceConfig().everyNBatches),
            health = health))
        else None
      val decontam =
        if (boolOpt(opt, "decontam")) Some(IngestPipeline.DecontamConfig())
        else None
      // model gates read artifacts installed OFFLINE under the root (the
      // decontam contract): qualitygate=true loads <root>/quality_model
      // ONCE here — the frozen-model replay-invariance contract — and
      // perplexity=<maxPplE4> points the scorer at <root>/lm_model
      val qualityGate =
        if (boolOpt(opt, "qualitygate"))
          Some(IngestPipeline.QualityGateConfig(
            graft.functions.QualityClassifier.readModel(spark, paths.qualityModel),
            minScoreE4 = opt.get("minScore").map(_.toLong).getOrElse(0L)))
        else None
      val perplexityGate = opt.get("perplexity").map { max =>
        IngestPipeline.PerplexityGateConfig(paths.lmModel, max.toLong)
      }
      // retrieval decontamination deploys by its index path (the config's
      // one required field); threshold and the strict/fail-open choice are
      // optional and default to the config's (strict — a mistyped path
      // must fail batches, not WARN forever)
      val retrievalDecontam = opt.get("retrievalIndex").map { idx =>
        val base = IngestPipeline.RetrievalDecontamConfig(
          idx, strict = !boolOpt(opt, "retrievalFailOpen"))
        opt.get("retrievalThreshold").map(_.toLong)
          .fold(base)(t => base.copy(thresholdE6 = t))
      }
      val docs = spark.readStream
        .schema("doc_id LONG, text STRING")
        .parquet(req(opt, "in"))
      IngestPipeline.start(
        docs, paths, req(opt, "checkpoint"),
        nearDup = nearDup, decontam = decontam,
        retrievalDecontam = retrievalDecontam, spanScrub = spanScrub,
        maintenance = maintenance,
        qualityGate = qualityGate, perplexityGate = perplexityGate,
        cardSketch = opt.get("cardK").map(k =>
          IngestPipeline.CardSketchConfig(k.toInt)))
      ()
    },
    // The feed-cardinality monitor's read surface: one log line a curator
    // or a dashboard scrapes — distinct texts the feed has ever offered
    // (sketch estimate) to compare against the deduped lake's row count.
    "feedcard" -> { (spark, opt) =>
      val paths = IngestPipeline.IngestPaths(req(opt, "root"))
      val s = IngestPipeline.feedCardinality(spark, paths)
      println(s"[graft.Submit] feedcard: estimate=${s.estimate} " +
        s"n_min=${s.n_min} kth=${s.kth} root=${opt("root")}")
    },
    // Serving read — the r15 isolation adjudication's two read points,
    // behind the one key that picks correctly (PLANS.md "Snapshot
    // isolation boundaries of the ingest lake"): `mode=committed` pins an
    // INGEST lake's manifest high-water mark (repeatable across concurrent
    // appends; valid BETWEEN maintenance runs — the loop's own read
    // points), `mode=snapshot` pins a SnapshotLake manifest generation
    // (the always-on reader that may race compaction/vacuum). The pinned
    // read lands at `out=` as parquet; the pin is printed so a serving
    // job's provenance is one log line.
    "serve" -> { (spark, opt) =>
      val out = req(opt, "out")
      val (df, pin) = req(opt, "mode") match {
        case "committed" =>
          val paths = IngestPipeline.IngestPaths(req(opt, "root"))
          val upTo = opt.get("upTo").map(_.toLong).getOrElse(-1L)
          // resolve the pin ONCE and serve exactly it — resolving again
          // for the log line could print a later pin than the one served
          // when a batch commits between the two reads (the concurrent-
          // append scenario this mode exists for)
          val pin =
            if (upTo >= 0) upTo else IngestPipeline.lastApplied(spark, paths)
          val d = IngestPipeline.readCommitted(spark, paths, pin)
          (d, s"batch=$pin")
        case "snapshot" =>
          val snap = sinks.SnapshotLake.pin(
            spark, req(opt, "root"),
            opt.get("generation").map(_.toLong).getOrElse(-1L))
          (sinks.SnapshotLake.read(spark, snap), s"generation=${snap.generation}")
        case other => sys.error(
          s"unknown serve mode '$other' (committed|snapshot) — committed pins an " +
            "ingest lake's manifest between maintenance points; snapshot serves " +
            "always-on readers racing maintenance")
      }
      df.write.mode("overwrite").parquet(out)
      println(s"[graft.Submit] serve: mode=${opt("mode")} $pin out=$out")
    })

  private def req(opt: Map[String, String], key: String): String =
    opt.getOrElse(key, sys.error(s"missing required option '$key='"))

  /** The option keys each job understands — [[main]] REJECTS anything else.
    * Without this, a misspelled `nearDup=true`/`maintainevery=8` parsed
    * fine and the stage the operator asked for silently did not run —
    * near-duplicates committed to the lake forever, partitions accreting
    * unboundedly, zero warning (review finding; the earlier fix for
    * `ivfHealth=true` implying maintenance was this failure mode fixed for
    * one key — this generalizes it).
    */
  private[graft] val jobKeys: Map[String, Set[String]] = Map(
    "batch" -> Set("lake", "out", "date"),
    "stream" -> Set("source", "in", "brokers", "topic", "out", "checkpoint"),
    "ingest" -> Set("in", "root", "checkpoint", "neardup", "decontam",
      "maintainEvery", "ivfHealth", "pqHealth", "spanscrub",
      "qualitygate", "minScore", "perplexity",
      "retrievalIndex", "retrievalThreshold", "retrievalFailOpen", "cardK"),
    "serve" -> Set("mode", "root", "out", "upTo", "generation"),
    "feedcard" -> Set("root"))

  /** Strict boolean option: absent → false; anything but a case-insensitive
    * true/false fails loudly (a silent `Neardup=True → false` is the same
    * operator trap as an unknown key).
    */
  private def boolOpt(opt: Map[String, String], key: String): Boolean =
    opt.get(key).map(_.toLowerCase) match {
      case None => false
      case Some("true") => true
      case Some("false") => false
      case Some(other) => sys.error(s"option '$key=' must be true or false, got '$other'")
    }

  /** `key=value` args → map (first `=` splits; later `=` stay in the value). */
  def parseArgs(args: Seq[String]): Map[String, String] =
    args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap

  /** Parse a spark-defaults-format properties file (the conf template's
    * format) — used by the spec to assert the shipped template is
    * well-formed, and usable by ops tooling that wants to inspect the
    * deploy conf without a cluster. Accepts every separator
    * `java.util.Properties` (what spark-submit's --properties-file loads
    * through) accepts: whitespace, `=`, or `:`, with optional whitespace
    * around the separator — the whitespace-only grammar rejected
    * `spark.master=spark://host:7077`, a conf the cluster runs fine
    * (review finding). Continuation lines are not supported (the shipped
    * template does not use them).
    */
  def parseConf(text: String): Map[String, String] =
    text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("!"))
      .map { l =>
        def isSep(c: Char) = c == '=' || c == ':' || Character.isWhitespace(c)
        val i = l.indexWhere(isSep)
        require(i > 0, s"expected 'key value' (or key=value / key:value), got '$l'")
        l.take(i) -> l.drop(i).dropWhile(isSep)
      }.toMap

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      s"usage: graft.Submit <job> [key=value ...]; jobs: ${jobs.keys.toSeq.sorted.mkString(", ")}")
    val job = jobs.getOrElse(args.head,
      sys.error(s"unknown job '${args.head}'; jobs: ${jobs.keys.toSeq.sorted.mkString(", ")}"))
    val opts = parseArgs(args.toSeq.tail)
    val unknown = opts.keySet -- jobKeys(args.head)
    require(unknown.isEmpty,
      s"unknown option(s) ${unknown.toSeq.sorted.mkString(", ")} for job '${args.head}'; " +
        s"valid: ${jobKeys(args.head).toSeq.sorted.mkString(", ")}")
    // No .master(), no partition override: the submit's conf owns cluster
    // shape (builder .config would outrank the --properties-file, so the
    // deploy builder sets only the engine's semantic defaults).
    val spark = GraftSession.deployBuilder(s"graft-${args.head}").getOrCreate()
    job(spark, opts)
    if (spark.streams.active.nonEmpty) spark.streams.awaitAnyTermination()
  }
}
