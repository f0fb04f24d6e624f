package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{FollowerConfig, Policies}
import graft.sink.{InMemoryKvBackend, KvBackends, PublishMode, RedisKvBackend}
import graft.streaming.JsonlReplaySource

/** The `meeseeker sync` CLI lifecycle (bin/meeseeker:19-33): wire a block
  * source -> follower pipeline -> KV/pub-sub backend, and keep it alive
  * under the reference's crash-restart backoff (Policies.cliRestartBackoff).
  *
  * {{{
  *   runMain graft.jobs.SyncMain \
  *     --endpoints=https://node-a/,https://node-b/   # live JSON-RPC leg
  *     [--replay=/path/blocks.jsonl]                 # or fixture replay
  *     [--vops=/path/vops.jsonl]
  *     --backend=redis://host:6379 | memory
  *     --checkpoint=/tmp/ck --chain=hive
  *     [--blocksPerTrigger=100] [--mode=irreversible|head]
  *     [--relaxedPublish] [--once] [--maxRestarts=N]
  *
  *   # streaming corpus intake (near-dup gate -> KV sink, RocksDB state):
  *   runMain graft.jobs.SyncMain --job=intake \
  *     --docs=/data/docs-jsonl-dir --backend=memory|redis://host:port \
  *     --checkpoint=/tmp/ck [--keyPrefix=graft:corpus] [--verifyTau=0.9] \
  *     [--horizonMs=1800000] [--ttl=N] [--notify=channel] [--once]
  *
  *   # STATE-FED streaming text intake (dedup vs the persisted standing
  *   # corpus, admitted docs appended back — zero Structured-Streaming
  *   # state; CorpusIntakeJob.runTextStream):
  *   runMain graft.jobs.SyncMain --job=intakeState \
  *     --docs=/data/docs-jsonl-dir --state=/data/state \
  *     --corpus=/data/corpus.parquet --checkpoint=/tmp/ck \
  *     [--tau=0.8] [--once] \
  *     [--retention=<sql predicate>] [--retentionEvery=N]
  *         # policy-driven TTL: the stream itself expires corpus rows
  *         # matching the predicate every N micro-batches (before that
  *         # batch's ingest) — CorpusIntakeJob.Retention
  *     [--qualityWeights=/data/qlr.parquet --qualityMinScore=500000]
  *         # TRAINED stage-1b quality gate: micro-weights from
  *         # QualityLr.writeWeights (trained offline), applied between
  *         # the rule gate and the scrub — CorpusIntakeJob.TrainedGates.
  *         # The feature regime m is DERIVED from the table's own stamp
  *         # (no flag to drift out of sync with a re-train)
  *     [--langModels=/data/langlr.parquet --keepLangs=en,fr]
  *         # TRAINED stage-1c language gate: one-vs-rest models from
  *         # QualityLr.writeOneVsRestModels (m derived, as above); docs
  *         # predicted outside --keepLangs drop after 1b, before the scrub
  *     [--gateReloadEvery=N]
  *         # LIVE WEIGHT ROTATION: re-load the gate weight tables every
  *         # N micro-batches (a re-trained model goes live without a
  *         # stream restart — TrainedGates.reloadEvery). A FAILED
  *         # rotation reload (torn/legacy table, crashed writer's lock)
  *         # logs loudly and keeps the last-good weights by default;
  *         # --gateReloadStrict halts the stream instead
  *     [--censusDeepEvery=N]
  *         # PER-SOURCE census drift audit every N micro-batches
  *         # (StandingState.reconcileSourceCensus deep=true) — heals
  *         # compensating per-source drift on a restartless stream;
  *         # costs one corpus groupBy scan per due batch
  * }}}
  *
  * `--once` runs a single bounded AvailableNow pass (backfill / test);
  * otherwise the stream runs continuously and a crash restarts it after
  * the doubling backoff, exactly like the reference's outer loop.
  */
object SyncMain {

  final case class Args(
      endpoints: Option[String] = None,
      replay: Option[String] = None,
      vops: Option[String] = None,
      backend: String = "memory",
      checkpoint: String = "/tmp/graft-sync-ck",
      chain: String = "hive",
      blocksPerTrigger: Long = 100L,
      mode: String = "irreversible",
      startBlock: Option[Long] = None,
      relaxedPublish: Boolean = false,
      once: Boolean = false,
      maxRestarts: Int = Int.MaxValue,
      job: String = "blocks", // blocks | schedule (Rakefile:54, :70-73) | intake
      untilBlock: Option[Long] = None,
      // --job=intake knobs (CorpusIntakeJob.runStream)
      docs: Option[String] = None,
      keyPrefix: String = "graft:corpus",
      verifyTau: Option[Double] = None,
      horizonMs: Long = 30L * 60 * 1000,
      ttlSeconds: Long = -1L,
      notifyChannel: Option[String] = None,
      // --job=intakeState knobs (CorpusIntakeJob.runTextStream)
      state: Option[String] = None,
      corpus: Option[String] = None,
      tau: Double = 0.8,
      retention: Option[String] = None,
      retentionEvery: Long = 1L,
      // trained stage-1b/1c gates (CorpusIntakeJob.TrainedGates); the
      // sub-knobs are Options so an orphan flag (knob without its parent
      // weights flag) is DETECTABLE and fails loudly instead of being
      // silently ignored — defaults apply at the use site
      qualityWeights: Option[String] = None,
      qualityMinScore: Option[Long] = None,
      langModels: Option[String] = None,
      keepLangs: Option[String] = None,
      gateReloadEvery: Long = 0L,
      gateReloadStrict: Boolean = false,
      censusDeepEvery: Long = 0L)

  def parseArgs(argv: Array[String]): Args =
    argv.foldLeft(Args()) { (a, s) =>
      s.split("=", 2) match {
        case Array("--endpoints", v) => a.copy(endpoints = Some(v))
        case Array("--replay", v) => a.copy(replay = Some(v))
        case Array("--vops", v) => a.copy(vops = Some(v))
        case Array("--backend", v) => a.copy(backend = v)
        case Array("--checkpoint", v) => a.copy(checkpoint = v)
        case Array("--chain", v) => a.copy(chain = v)
        case Array("--blocksPerTrigger", v) => a.copy(blocksPerTrigger = v.toLong)
        case Array("--mode", v) => a.copy(mode = v)
        case Array("--startBlock", v) => a.copy(startBlock = Some(v.toLong))
        case Array("--relaxedPublish") => a.copy(relaxedPublish = true)
        case Array("--once") => a.copy(once = true)
        case Array("--maxRestarts", v) => a.copy(maxRestarts = v.toInt)
        case Array("--job", v) => a.copy(job = v)
        case Array("--untilBlock", v) => a.copy(untilBlock = Some(v.toLong))
        case Array("--docs", v) => a.copy(docs = Some(v))
        case Array("--keyPrefix", v) => a.copy(keyPrefix = v)
        case Array("--verifyTau", v) => a.copy(verifyTau = Some(v.toDouble))
        case Array("--horizonMs", v) => a.copy(horizonMs = v.toLong)
        case Array("--ttl", v) => a.copy(ttlSeconds = v.toLong)
        case Array("--notify", v) => a.copy(notifyChannel = Some(v))
        case Array("--state", v) => a.copy(state = Some(v))
        case Array("--corpus", v) => a.copy(corpus = Some(v))
        case Array("--tau", v) => a.copy(tau = v.toDouble)
        case Array("--retention", v) => a.copy(retention = Some(v))
        case Array("--retentionEvery", v) => a.copy(retentionEvery = v.toLong)
        case Array("--qualityWeights", v) => a.copy(qualityWeights = Some(v))
        case Array("--qualityMinScore", v) => a.copy(qualityMinScore = Some(v.toLong))
        case Array("--langModels", v) => a.copy(langModels = Some(v))
        case Array("--keepLangs", v) => a.copy(keepLangs = Some(v))
        case Array("--gateReloadEvery", v) => a.copy(gateReloadEvery = v.toLong)
        case Array("--gateReloadStrict") => a.copy(gateReloadStrict = true)
        case Array("--censusDeepEvery", v) => a.copy(censusDeepEvery = v.toLong)
        case other => sys.error(s"unknown argument '${other.mkString("=")}'")
      }
    } match {
      case a =>
        // silently ignoring a misplaced retention flag would run the
        // stream with TTL off and strand the ops loop (the PrepareMain
        // --report precedent: fail loudly instead)
        require(a.retention.isEmpty || a.job == "intakeState",
          "--retention/--retentionEvery apply only to --job=intakeState")
        // --retentionEvery without --retention configures a cadence for a
        // TTL pass that never runs — the same silent strand, from the
        // other flag
        require(a.retentionEvery == 1L || a.retention.nonEmpty,
          "--retentionEvery needs --retention (the predicate the cadence applies to)")
        // same loud-fail rule for the trained-gate flags: a gate flag on
        // the wrong job would silently run the stream ungated
        require((a.qualityWeights.isEmpty && a.langModels.isEmpty) ||
            a.job == "intakeState",
          "--qualityWeights/--langModels apply only to --job=intakeState")
        require(a.keepLangs.isEmpty || a.langModels.nonEmpty,
          "--keepLangs needs --langModels (the models that predict the language)")
        require(a.langModels.isEmpty || a.keepLangs.nonEmpty,
          "--langModels needs --keepLangs (the languages the gate keeps)")
        // orphan sub-knobs: a threshold or reload cadence without its
        // parent weights flag would leave the stream running ungated at
        // a config the operator believes is in force
        require(a.qualityMinScore.isEmpty || a.qualityWeights.nonEmpty,
          "--qualityMinScore needs --qualityWeights")
        require(a.gateReloadEvery == 0L ||
            a.qualityWeights.nonEmpty || a.langModels.nonEmpty,
          "--gateReloadEvery needs --qualityWeights or --langModels " +
            "(the weight tables the cadence re-loads)")
        require(a.gateReloadEvery >= 0L, "--gateReloadEvery must be >= 0")
        // strictness without a rotation is a no-op the operator believes
        // is in force — same loud-fail rule as the other orphan knobs
        require(!a.gateReloadStrict || a.gateReloadEvery > 0L,
          "--gateReloadStrict needs --gateReloadEvery (the rotation it " +
            "makes fail-fast)")
        require(a.censusDeepEvery >= 0L, "--censusDeepEvery must be >= 0")
        require(a.censusDeepEvery == 0L || a.job == "intakeState",
          "--censusDeepEvery applies only to --job=intakeState")
        a
    }

  def registerBackend(spec: String): String = spec match {
    case "memory" =>
      KvBackends.register("sync-backend", new InMemoryKvBackend)
      "sync-backend"
    case r if r.startsWith("redis://") =>
      val hp = r.stripPrefix("redis://").split(':')
      KvBackends.register("sync-backend",
        new RedisKvBackend(hp(0), if (hp.length > 1) hp(1).toInt else 6379))
      "sync-backend"
    case other => sys.error(s"unknown backend '$other'")
  }

  /** `--job=intake` leg: JSONL docs directory -> near-dup corpus intake ->
    * KV backend ([[graft.streaming.CorpusIntakeJob.runStream]]). The doc
    * stream is Spark's standard file source over `--docs=<dir>` (each line
    * `{"ts":"2024-01-01T10:00:00Z","doc_id":1,"text":"…"}`); a production
    * deployment swaps in Kafka behind the same frame shape. State runs on
    * RocksDB — the documented posture for an unbounded band-key horizon. */
  def runIntakeOnce(spark: SparkSession, a: Args): Unit = {
    val dir = a.docs.orElse(a.replay).getOrElse(
      sys.error("--job=intake needs --docs=<jsonl dir>"))
    graft.streaming.EventStreamJobs.withRocksDbState(spark)
    val docs = spark.readStream
      .schema("ts TIMESTAMP, doc_id BIGINT, text STRING")
      .json(dir)
    val trigger =
      if (a.once) Trigger.AvailableNow() else Trigger.ProcessingTime("3 seconds")
    val q = graft.streaming.CorpusIntakeJob.runStream(
      docs, registerBackend(a.backend), a.checkpoint,
      keyPrefix = a.keyPrefix, verifyTau = a.verifyTau,
      horizonMs = a.horizonMs, ttlSeconds = a.ttlSeconds,
      notifyChannel = a.notifyChannel, trigger = trigger)
    q.awaitTermination()
  }

  /** `--job=intakeState` leg: JSONL docs directory -> STATE-FED text
    * intake ([[graft.streaming.CorpusIntakeJob.runTextStream]]): each
    * micro-batch dedups against the persisted StandingState digest/band
    * tables and the admitted docs append back to both the corpus table
    * and the state — the resume-don't-restart ingest cycle as a running
    * job. No RocksDB session config: this leg keeps ZERO
    * Structured-Streaming state (everything lives in the shared parquet
    * tables), and the startup repair pass inside runTextStream restores
    * the corpus<->artifact invariant before the first batch. */
  def runIntakeStateOnce(spark: SparkSession, a: Args): Unit = {
    val dir = a.docs.getOrElse(sys.error("--job=intakeState needs --docs=<jsonl dir>"))
    val statePath = a.state.getOrElse(sys.error("--job=intakeState needs --state=<dir>"))
    val corpus = a.corpus.getOrElse(
      sys.error("--job=intakeState needs --corpus=<parquet dir>"))
    val docs = spark.readStream
      .schema("ts TIMESTAMP, doc_id BIGINT, text STRING")
      .json(dir)
    val trigger =
      if (a.once) Trigger.AvailableNow() else Trigger.ProcessingTime("3 seconds")
    val retention = a.retention.map(p =>
      graft.streaming.CorpusIntakeJob.Retention(
        org.apache.spark.sql.functions.expr(p), a.retentionEvery))
    // trained stage-1b/1c gates: the flags become table SOURCES — the
    // stream loads them at start (deriving m from each table's own
    // regime stamp, so a re-train at a new m needs no flag change) and,
    // with --gateReloadEvery, rotates them live every N micro-batches.
    // Sources also survive restarts: the reload reads whatever the
    // table says NOW, not what the process saw at launch.
    val gates = graft.streaming.CorpusIntakeJob.TrainedGates(
      qualitySource = a.qualityWeights.map(p =>
        (p, a.qualityMinScore.getOrElse(500000L))),
      langSource = a.langModels.map { p =>
        // parseArgs pairs the flags, but Args is also constructed
        // directly (tests, embedding callers) — re-enforce here so a
        // programmatic langModels-without-keepLangs fails with the
        // intended message, not a bare NoSuchElementException
        val keep = a.keepLangs.getOrElse(sys.error(
            "--langModels needs --keepLangs (the languages the gate keeps)"))
          .split(',').map(_.trim).filter(_.nonEmpty).toSet
        require(keep.nonEmpty, "--keepLangs must name at least one language")
        (p, keep)
      },
      // passed through UNCONDITIONALLY: parseArgs already rejects the
      // orphan CLI flag, and a programmatically constructed Args with a
      // cadence but no sources must hit TrainedGates' own loud require,
      // not have its rotation config silently zeroed
      reloadEvery = a.gateReloadEvery,
      reloadStrict = a.gateReloadStrict)
    val q = graft.streaming.CorpusIntakeJob.runTextStream(
      docs, statePath, corpus, a.checkpoint, tau = a.tau, trigger = trigger,
      retention = retention, gates = gates,
      censusDeepEvery = a.censusDeepEvery)
    q.awaitTermination()
  }

  /** One stream attempt (blocks until termination or failure). */
  def runOnce(spark: SparkSession, a: Args): Unit = {
    if (a.job == "intake") return runIntakeOnce(spark, a)
    if (a.job == "intakeState") return runIntakeStateOnce(spark, a)
    val raw = (a.endpoints, a.replay) match {
      case (Some(eps), _) =>
        val r = spark.readStream
          .format("graft.streaming.JsonRpcBlockSource")
          .option("endpoints", eps)
          .option("mode", a.mode)
          .option("blocksPerTrigger", a.blocksPerTrigger.toString)
        a.startBlock.fold(r)(sb => r.option("startBlock", sb.toString)).load()
      case (None, Some(path)) => JsonlReplaySource.stream(spark, path, a.blocksPerTrigger)
      case _ => sys.error("need --endpoints or --replay")
    }
    val mode = if (a.relaxedPublish) PublishMode.RelaxedPerBlock else PublishMode.Strict
    val trigger =
      if (a.once) Trigger.AvailableNow() else Trigger.ProcessingTime("3 seconds")
    val q = BlockFollowerPipeline.runStreamFrom(
      spark, raw, a.vops, FollowerConfig(chain = a.chain), registerBackend(a.backend),
      a.checkpoint, publishMode = mode, trigger = trigger)
    q.awaitTermination()
  }

  /** Crash-restart outer loop (bin/meeseeker:25-33): doubling backoff,
    * reset after a run that survived past the backoff horizon. */
  def syncLoop(spark: SparkSession, a: Args, sleep: Double => Unit = s => Thread.sleep((s * 1000).toLong)): Int = {
    var attempt = 1
    var restarts = 0
    while (restarts <= a.maxRestarts) {
      val t0 = System.nanoTime()
      try {
        runOnce(spark, a)
        return restarts // clean termination (AvailableNow or stopped query)
      } catch {
        case e: Throwable =>
          val ranSec = (System.nanoTime() - t0) / 1e9
          val backoff = Policies.cliRestartBackoff(attempt)
          // a run that outlived the current backoff counts as healthy:
          // reset the schedule like a freshly started process
          attempt = if (ranSec > backoff * 2) 1 else attempt + 1
          restarts += 1
          if (restarts <= a.maxRestarts) {
            System.err.println(
              s"[sync] stream died (${e.getMessage}); restart #$restarts in ${backoff}s")
            sleep(backoff)
          } else throw e
      }
    }
    restarts
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    if (a.job == "schedule") {
      // `rake witness:schedule[chain]` twin (Rakefile:70-73) — a driver-side
      // poll loop, no Spark session to spin up
      val eps = a.endpoints.getOrElse(sys.error("--job=schedule needs --endpoints"))
      ScheduleFollowerJob.run(
        ScheduleFollowerJob.ScheduleConfig(
          endpoints = eps.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          chain = a.chain, mode = a.mode, untilBlockNum = a.untilBlock),
        registerBackend(a.backend))
      return
    }
    val spark = graft.Sessions.build(s"graft-sync-${a.chain}")
    try syncLoop(spark, a)
    finally spark.stop()
  }
}
