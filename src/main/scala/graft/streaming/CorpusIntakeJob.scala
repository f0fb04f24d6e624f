package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.llm.{Dedup, StandingState, TextOps}
import graft.sink.KvPubSubSink

/** Streaming training-corpus intake — the Structured Streaming twin of
  * [[graft.llm.CorpusPipeline.prepare]]'s front half, for the "documents
  * arrive continuously" deployment (crawl ingest, API firehose):
  *
  *   1. QUALITY GATE — [[TextOps.gopherGate]] (per-row filter; the
  *      semi-join form would be an unsupported stream-stream join)
  *   2. PII SCRUB    — [[TextOps.redactPii]] (per-row rewrite of `text`)
  *   3. DEDUP        — [[EventStreamJobs.streamingExactDedup]] or the
  *      near-exact minhash-signature form, watermark-bounded state
  *
  * Stages 1-2 are stateless whole-stage-codegen projections — they add
  * ZERO streaming state and run at scan parallelism on any cluster. The
  * only stateful operator is the final dedup, whose state is one entry
  * per recent distinct key, expired by the event-time watermark (RocksDB
  * posture via [[EventStreamJobs.withRocksDbState]] at scale).
  *
  * Scrub precedes dedup for the same reason as the batch pipeline: the
  * redacted text is what gets fingerprinted, so two docs differing only
  * in PII ARE duplicates (spec-pinned). The shuffling back-half stages
  * (pair-level near-dup, decontamination, mixing, packing) are corpus-
  * global by nature and stay batch — run them periodically over the
  * accumulated intake output, exactly how production pipelines split
  * online intake from offline corpus prep.
  *
  * The STATE-FED intakes — [[runTextStream]], [[runEmbeddingStream]],
  * [[runMediaStream]] and their batch legs — keep no streaming state:
  * each dedups against persisted standing state and all three run one
  * protocol, [[ingestBatch]] per micro-batch under one stream runner. A
  * state kind is a [[StandingState.Kind]] descriptor plus its admission
  * step ([[Intake]]); a new kind adds those, not a copy of the protocol.
  */
object CorpusIntakeJob {

  /** POLICY-DRIVEN RETENTION for the state-fed intakes — the reference's
    * daily TTL loop (`meeseeker.rb`'s EXPIRE) as a stream config instead
    * of an external job: every `everyBatches` micro-batches (on
    * `batchId % everyBatches == 0`, BEFORE that batch's ingest, so
    * replicas of just-expired content re-admit within the same trigger)
    * the stream itself runs its kind's id-keyed expire (one shared pass,
    * [[StandingState.expire]] for text) with `expired` over the standing
    * table's rows. Safe under the proven coexistence contract — expire's
    * rewrites are snapshot-delta (lease held only for delta catch-up +
    * swap) and the ingest legs wait via `withLeaseRetry` — and here the
    * two never even overlap: both run inside the same `foreachBatch`
    * callback, serialized per micro-batch. The predicate is an arbitrary
    * Column over the standing table (an ingest-time horizon, a doc_id
    * policy, a source rule); NULL-predicate rows are retained, and a
    * crash mid-expire is healed by the pass's own idempotent re-run on
    * the next due batch. The state's artifact rows are doc-keyed, so
    * each pass is O(expired) anti-joins, not an O(corpus) rebuild under
    * the lease.
    *
    * CADENCE COST: even a NO-OP pass scans the standing table twice
    * (predicate filter + count), and a pass that expires anything
    * rewrites the corpus table inside the trigger — at the default
    * `everyBatches = 1` that cost lands on EVERY micro-batch (every ~3 s
    * at the default trigger). The default keeps the test/backfill shape
    * simple (one AvailableNow batch = one TTL pass); a continuous
    * deployment should amortize with a coarser cadence sized to its TTL
    * horizon — e.g. `everyBatches = 1200` ≈ hourly at the 3 s trigger
    * (`--retentionEvery` on [[graft.jobs.SyncMain]]). */
  final case class Retention(expired: Column, everyBatches: Long = 1L) {
    require(everyBatches >= 1L, "everyBatches must be >= 1")
    private[streaming] def due(batchId: Long): Boolean =
      batchId % everyBatches == 0L
  }

  /** TRAINED stage-1b/1c gates for the state-fed text intake — the
    * [[graft.llm.CorpusPipeline.Config]] `qualityGate`/`keepLangs` pair
    * riding the stream config exactly like [[Retention]] does: a daily
    * state-fed ingest can apply the learned quality and language filters
    * (q95/q102's gates) without dropping back to the batch pipeline.
    * Weights are plain micro-weight vectors
    * ([[graft.llm.QualityLr.trainQualityLr]] /
    * [[graft.llm.QualityLr.trainOneVsRestLr]] outputs — trained ONCE on
    * a curated labeled sample, never by the stream), applied between the
    * rule gate and the PII scrub in the pinned stage order (1 -> 1b ->
    * 1c -> 2), through the SAME shared transforms as the batch pipeline
    * ([[graft.llm.CorpusPipeline.applyQualityGate]]/`applyLangGate`), so
    * batch/stream parity is by construction. Per-batch cost: one hashed-
    * feature pass + one doc_id-keyed aggregation per enabled gate over
    * the rule-gated batch — weights deliver as literals below the
    * [[graft.llm.QualityLr.DefaultLiteralWeightCap]] and as one
    * broadcast (bucket, w_0..w_K) frame above it.
    *
    * LIVE WEIGHT ROTATION: a long-running stream should not need a
    * restart to pick up a re-trained model. When `qualitySource` /
    * `langSource` name the persisted weight tables
    * ([[graft.llm.QualityLr.writeWeights]] /
    * `writeOneVsRestModels` — regime-guarded, swap-written, so a
    * mid-rotation read sees fully-old or fully-new weights, never a
    * tear), [[reloaded]] re-reads them — deriving m from each table's
    * own regime stamp — and `reloadEvery > 0` makes [[runTextStream]]
    * do so every N micro-batches inside `foreachBatch` (the
    * [[Retention.everyBatches]] cadence pattern; N sized to the
    * re-train cadence, not the trigger). The reload is a control-plane
    * fetch (m+1 / K*(m+1) rows) BETWEEN batches — no batch is lost or
    * double-gated; admissions flip to the new weights on the next due
    * batch. */
  final case class TrainedGates(
      qualityGate: Option[(Seq[Long], Int, Long)] = None,
      keepLangs: Option[(Seq[(String, Seq[Long])], Int, Set[String])] = None,
      qualitySource: Option[(String, Long)] = None,
      langSource: Option[(String, Set[String])] = None,
      reloadEvery: Long = 0L,
      reloadStrict: Boolean = false) {
    require(reloadEvery >= 0L, "reloadEvery must be >= 0")
    require(reloadEvery == 0L || qualitySource.nonEmpty || langSource.nonEmpty,
      "reloadEvery needs a weight-table source (qualitySource/langSource) " +
        "to re-load from — without one the cadence would reload nothing")
    /** batch 0 never reloads: the sourced gates were just loaded at
      * stream start ([[runTextStream]]'s initial [[reloaded]] pass). */
    private[streaming] def reloadDue(batchId: Long): Boolean =
      reloadEvery > 0L && batchId > 0L && batchId % reloadEvery == 0L

    /** Rotation-site reload: [[reloaded]], but a FAILED reload (a torn
      * or legacy table the loaders' guards refuse, a crashed writer's
      * fresh lock outlasting the readers' retries) DEGRADES to the
      * last-good in-memory weights instead of propagating out of
      * `foreachBatch` and killing a long-running streaming query that
      * still holds known-good gates — the failure is logged loudly and
      * the next due batch retries against the (hopefully repaired)
      * table. `reloadStrict = true` restores fail-fast for deployments
      * that would rather halt than admit on stale weights. The INITIAL
      * stream-start load always fails fast (there is no last-good to
      * fall back to). */
    private[streaming] def reloadedOrLastGood(
        spark: org.apache.spark.sql.SparkSession, batchId: Long): TrainedGates =
      try reloaded(spark)
      catch {
        case scala.util.control.NonFatal(e) if !reloadStrict =>
          org.slf4j.LoggerFactory.getLogger(classOf[TrainedGates])
            .error(
              s"gate weight reload failed at batch $batchId — keeping " +
                s"last-good weights (sources: quality=${qualitySource.map(_._1)}, " +
                s"lang=${langSource.map(_._1)}); repair the table before the " +
                "next due batch or restart with reloadStrict=true to halt " +
                s"instead: $e")
          this
      }
    /** Re-read the sourced weight tables (deriving m from each table's
      * regime stamp); gates without a source pass through unchanged. */
    def reloaded(spark: org.apache.spark.sql.SparkSession): TrainedGates = copy(
      qualityGate = qualitySource.map { case (p, minScore) =>
        val (w, m) = graft.llm.QualityLr.loadWeights(spark, p)
        (w.toSeq, m, minScore)
      }.orElse(qualityGate),
      keepLangs = langSource.map { case (p, keep) =>
        val (models, m) = graft.llm.QualityLr.loadOneVsRestModels(spark, p)
        (models.map { case (c, w) => (c, w.toSeq) }, m, keep)
      }.orElse(keepLangs))
  }

  /** docs stream (tsCol, doc_id, text, +passthrough) -> gated, scrubbed,
    * deduplicated stream. `nearExact = true` dedups on the k-token minhash
    * signature (collapses trivially-perturbed re-crawls); `false` dedups
    * on exact redacted text. */
  def intake(
      docs: DataFrame,
      tsCol: String,
      watermark: String,
      nearExact: Boolean = true,
      minWords: Int = 20,
      maxWords: Int = 100000): DataFrame = {
    val scrubbed =
      scrubPii(TextOps.gopherGate(docs, minWords = minWords, maxWords = maxWords))
    if (nearExact)
      EventStreamJobs.streamingNearExactDedup(scrubbed, tsCol, watermark)
    else
      EventStreamJobs.streamingExactDedup(scrubbed, tsCol, watermark)
  }

  /** The NEAR-DUP dedup option — stage 3 as banded-LSH collision dedup
    * ([[EventStreamJobs.streamingBandVerdicts]]) instead of signature
    * equality: a doc colliding on ANY full band with a recently-admitted
    * anchor is dropped, which catches the partial-signature near-dups
    * [[intake]]'s `nearExact` form admits. Gate and scrub run per-row
    * ahead of fingerprinting exactly like [[intake]] (PII-only diffs ARE
    * duplicates; the gate's `minWords` also guarantees every surviving
    * doc is signable at shingle size `k`).
    *
    * Returns the per-(doc, band) VERDICT stream. Admission is a per-batch
    * roll-up, because all of a doc's band rows land in one micro-batch —
    * compose with `foreachBatch`, anti-joining the batch against its own
    * distinct colliding doc ids via [[admittedDocs]]:
    *
    * {{{
    * CorpusIntakeJob.intakeNearDup(docs, "ts", "30 minutes", horizonMs)
    *   .writeStream.outputMode("append")
    *   .foreachBatch { (b: Dataset[Row], _: Long) =>
    *     sink(CorpusIntakeJob.admittedDocs(b))
    *   }.start()
    * }}}
    *
    * `verifyTau = Some(tau)` exact-verifies each collision against the
    * anchor doc's text (Jaccard >= tau over distinct k-shingles — the
    * [[graft.llm.TextOps.verifyPairs]] criterion) before it counts as a
    * drop signal, trading a little state width (the anchor text) for
    * banding's false-positive rate. Output columns are (ts, doc_id, text,
    * band, dropped); passthrough columns beyond `text` rejoin from the
    * doc store downstream by doc_id. */
  def intakeNearDup(
      docs: DataFrame,
      tsCol: String,
      watermark: String,
      horizonMs: Long,
      verifyTau: Option[Double] = None,
      minWords: Int = 20,
      maxWords: Int = 100000,
      k: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 2): DataFrame = {
    val scrubbed =
      scrubPii(TextOps.gopherGate(docs, minWords = minWords, maxWords = maxWords))
    EventStreamJobs.streamingBandVerdicts(
      scrubbed, tsCol, watermark, horizonMs, verifyTau, k, numHashes, bandRows)
      .toDF()
  }

  /** Batch-side roll-up for [[intakeNearDup]]'s foreachBatch: collapse a
    * verdict micro-batch to its ADMITTED docs — distinct (ts, doc_id,
    * text) anti-joined against the batch's distinct colliding doc ids
    * ("dropped on ANY band" ⟹ dropped). */
  def admittedDocs(verdicts: DataFrame): DataFrame = {
    val dropIds = verdicts.filter(col("dropped")).select("doc_id").distinct()
    verdicts.select("ts", "doc_id", "text").distinct()
      .join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** One micro-batch's sink leg for [[runStream]]: roll the verdict batch up
    * to its admitted docs, materialize each as a KV record
    * `<keyPrefix>:<doc_id> -> {"ts":…,"doc_id":…,"text":…}` (idempotent by
    * key, so checkpoint-replayed batches re-write the same rows — the same
    * exactly-once-by-idempotence discipline as the block sink, SURVEY §4.3),
    * and optionally publish each admitted doc_id on `notifyChannel` in
    * doc_id order (at-least-once, like every publish path). Factored out of
    * the foreachBatch closure so the batch leg is testable on a static
    * frame. */
  def writeAdmitted(
      verdicts: DataFrame,
      backendName: String,
      keyPrefix: String,
      ttlSeconds: Long = -1L,
      notifyChannel: Option[String] = None): Unit = {
    val admitted = admittedDocs(verdicts)
    val memoized = if (notifyChannel.isDefined) admitted.persist() else admitted
    try {
      KvPubSubSink.writeKv(
        memoized.select(
          concat(lit(keyPrefix + ":"), col("doc_id")).as("key"),
          to_json(struct(col("ts"), col("doc_id"), col("text"))).as("kv_value")),
        backendName, ttlSeconds)
      notifyChannel.foreach { ch =>
        KvPubSubSink.publishOrdered(
          memoized.select(
            lit(ch).as("channel"),
            col("doc_id").cast("string").as("payload"),
            col("doc_id")),
          backendName, Seq("doc_id"))
      }
    } finally if (notifyChannel.isDefined) memoized.unpersist()
  }

  /** The RUNNABLE near-dup intake job — [[intakeNearDup]] composed with its
    * documented `foreachBatch` roll-up and the KV backend, as one started
    * streaming query (the `meeseeker sync`-shaped lifecycle for corpus
    * intake; [[graft.jobs.SyncMain]] exposes it as `--job=intake`):
    *
    *   docs stream -> gate -> scrub -> band verdicts (watermarked state)
    *     -> per-batch admission roll-up -> KV SET (+TTL) [+ PUBLISH]
    *
    * The KV writes fan out per partition and are idempotent by key; recovery
    * from `checkpoint` replays at most one micro-batch into the same keys.
    * State is one anchor per live band key, expired by the watermark —
    * RocksDB-backed at scale via [[EventStreamJobs.withRocksDbState]]
    * (session-level; the SyncMain wrapper applies it before starting). */
  def runStream(
      docs: DataFrame,
      backendName: String,
      checkpoint: String,
      keyPrefix: String = "graft:corpus",
      tsCol: String = "ts",
      watermark: String = "30 minutes",
      horizonMs: Long = 30L * 60 * 1000,
      verifyTau: Option[Double] = None,
      ttlSeconds: Long = -1L,
      notifyChannel: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime("3 seconds"),
      minWords: Int = 20,
      maxWords: Int = 100000): StreamingQuery =
    intakeNearDup(docs, tsCol, watermark, horizonMs, verifyTau,
      minWords = minWords, maxWords = maxWords)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        writeAdmitted(b, backendName, keyPrefix, ttlSeconds, notifyChannel)
      }
      .start()

  /** Streaming EMBEDDING intake against the PERSISTED standing state:
    * ZERO Structured-Streaming state. Each micro-batch dedups against the
    * persisted sign-LSH bucket table ([[StandingState.loadEmbBuckets]]
    * feeding [[Dedup.dedupByEmbeddingLshIncrementalVsBuckets]] —
    * within-batch lower-id collisions drop too) and the admitted vectors
    * append to BOTH the standing vector table and the bucket table,
    * closing the ingest cycle inside the stream. The shared state-fed
    * protocol is [[runStateStream]]'s (startup repair, in-stream
    * retention) and [[ingestBatch]]'s (self-healing replays, single-lease
    * commit); [[StandingState.repairEmbBuckets]] is this kind's startup
    * repair. The batch stream must carry
    * (vec_id, embedding [, label]); ids must be unique across the stream
    * and disjoint from standing. */
  def runEmbeddingStream(
      vecs: DataFrame,
      statePath: String,
      standingVecsPath: String,
      checkpoint: String,
      tau: Double,
      nPlanes: Int = 4,
      dim: Int = 64,
      trigger: Trigger = Trigger.ProcessingTime("3 seconds"),
      retention: Option[Retention] = None): StreamingQuery =
    runStateStream(vecs, checkpoint, trigger, retention,
      repair = StandingState.repairEmbBuckets(_, statePath, standingVecsPath),
      expire = StandingState.expireEmbeddings(_, statePath, standingVecsPath, _),
      ingest = ingestEmbeddingBatch(_, statePath, standingVecsPath, tau, nPlanes, dim))

  /** One micro-batch of [[runEmbeddingStream]], usable standalone: dedup
    * vs the persisted buckets, then append the admitted vectors + their
    * bucket rows through [[ingestBatch]]. ZERO-NORM vectors are REJECTED
    * at intake: a zero vector has no cosine direction, so it can never
    * collide with anything — including its own standing copy on a
    * replay, which would re-append it forever. The vector table's
    * columns define what is persisted; a missing `label` column is added
    * as null. Returns the admitted count. */
  def ingestEmbeddingBatch(
      batch: DataFrame,
      statePath: String,
      standingVecsPath: String,
      tau: Double,
      nPlanes: Int = 4,
      dim: Int = 64): Long = {
    val spark = batch.sparkSession
    ingestBatch(batch, statePath, Intake[DataFrame](
      StandingState.embeddingKind(spark, statePath, standingVecsPath),
      prepare = { b =>
        val withLabel =
          if (b.columns.contains("label")) b
          else b.withColumn("label", lit(null).cast("string"))
        withLabel.filter(graft.llm.VectorOps.norm("embedding") =!= 0.0)
      },
      load = () => StandingState.loadEmbBuckets(spark, statePath, nPlanes, dim),
      admit = (fresh, standing, buckets) =>
        Dedup.dedupByEmbeddingLshIncrementalVsBuckets(
          fresh, buckets, standing.select("vec_id", "embedding"), tau, nPlanes, dim)))
  }

  /** Streaming TEXT intake against the PERSISTED standing state — the
    * posture the watermark-bounded [[runStream]] cannot provide: a doc
    * that exactly or nearly duplicates the STANDING CORPUS (not just a
    * recently-streamed anchor) is dropped, because each micro-batch
    * dedups against the persisted digest and LSH band tables
    * ([[Dedup.exactIncrementalVsDigests]] +
    * [[Dedup.dedupNearLshIncrementalVsBands]]) and admitted docs append
    * back to BOTH the corpus table and the state — the resume-don't-
    * restart semantics of the reference's block follower
    * (`block_follower_job.rb:111-138`), applied to continuous corpus
    * intake against yesterday's corpus. ZERO Structured-Streaming state:
    * all state lives in the shared parquet tables (corpus + `digests/` +
    * `bands/`), shared with the batch/[[graft.jobs.PrepareMain]] cycle.
    * The shared state-fed protocol is [[runStateStream]]'s and
    * [[ingestBatch]]'s; [[StandingState.repairTextArtifacts]] is this
    * kind's startup repair.
    *
    * The fingerprint regime (shingle size, hash count, band rows,
    * normalization) is READ FROM THE STATE's meta row per batch — a state
    * written under one regime can never accumulate another's band rows.
    * `tau` is the near-dup drop threshold. The docs stream must carry
    * (doc_id, text, +passthrough); the corpus table's columns (all of
    * which the stream must carry) define what is persisted. doc_ids must
    * be unique across the stream and disjoint from standing.
    *
    * `censusDeepEvery > 0` runs the PER-SOURCE census witness
    * ([[StandingState.reconcileSourceCensus]] with `deep = true`) every
    * N micro-batches — the `everyBatches` cadence pattern's third use
    * (after [[Retention.everyBatches]] and [[TrainedGates.reloadEvery]]).
    * Without it the deep witness rides only the passes that already pay
    * corpus-shaped work (expire, stream startup), so a RESTARTLESS
    * stream with no retention keeps only the cheap total-sum witness —
    * and a per-source drift whose totals compensate would stand
    * unhealed for the stream's whole lifetime. The deep pass costs one
    * corpus groupBy scan per due batch; size N to the corpus scan you
    * are willing to pay (it is a drift-heal audit, not a correctness
    * prerequisite — every completed commit maintains the census
    * exactly). No-op when the state keeps no census. */
  def runTextStream(
      docs: DataFrame,
      statePath: String,
      standingDocsPath: String,
      checkpoint: String,
      tau: Double,
      trigger: Trigger = Trigger.ProcessingTime("3 seconds"),
      minWords: Int = 20,
      maxWords: Int = 100000,
      retention: Option[Retention] = None,
      gates: TrainedGates = TrainedGates(),
      censusDeepEvery: Long = 0L): StreamingQuery = {
    require(censusDeepEvery >= 0L, "censusDeepEvery must be >= 0")
    // sourced gates load at stream start (the gates always mirror their
    // tables at batch 0, whether or not the caller pre-loaded them), then
    // rotate on the reloadEvery cadence; unsourced gates ride unchanged
    var liveGates =
      if (gates.qualitySource.nonEmpty || gates.langSource.nonEmpty)
        gates.reloaded(docs.sparkSession)
      else gates
    runStateStream(docs, checkpoint, trigger, retention,
      repair = StandingState.repairTextArtifacts(_, statePath, standingDocsPath),
      expire = StandingState.expire(_, statePath, standingDocsPath, _),
      ingest = ingestTextBatch(_, statePath, standingDocsPath, tau,
        minWords = minWords, maxWords = maxWords, gates = liveGates),
      beforeIngest = { (spark, id) =>
        if (gates.reloadDue(id))
          liveGates = liveGates.reloadedOrLastGood(spark, id)
        // batch 0 is covered by the startup repair; the cadence heals
        // BEFORE the batch's ingest so its census bump lands on a
        // reconciled table
        if (censusDeepEvery > 0L && id > 0L && id % censusDeepEvery == 0L)
          StandingState.reconcileSourceCensus(
            spark, statePath, standingDocsPath, deep = true)
      })
  }

  /** Streaming MEDIA intake against the PERSISTED standing state: each
    * micro-batch of media records (media_id, mime, n_bytes, payload) is
    * decoded and perceptually hashed executor-side (`phashOf` —
    * [[graft.llm.Multimodal.imagePhash]] by default; pass `audioPhash` /
    * `videoPhash` for those corpora, the state machinery is
    * representation-agnostic over the 64-bit hash string), deduplicated
    * against the persisted phash band table
    * ([[graft.llm.Multimodal.phashNearDupIncrementalVsBands]] — a
    * near-duplicate of ANY standing item, or of a lower-id batch item,
    * drops), and admitted records append to BOTH the standing media
    * table and the state. ZERO Structured-Streaming state; standing
    * payloads are never re-decoded (8 bytes of phash per standing item).
    * The shared state-fed protocol is [[runStateStream]]'s and
    * [[ingestBatch]]'s; [[StandingState.repairMediaArtifacts]] is this
    * kind's startup repair. */
  def runMediaStream(
      media: DataFrame,
      statePath: String,
      standingMediaPath: String,
      checkpoint: String,
      maxHamming: Int = 8,
      phashOf: DataFrame => DataFrame = graft.llm.Multimodal.imagePhash,
      trigger: Trigger = Trigger.ProcessingTime("3 seconds"),
      retention: Option[Retention] = None): StreamingQuery =
    runStateStream(media, checkpoint, trigger, retention,
      repair = StandingState.repairMediaArtifacts(_, statePath, standingMediaPath, phashOf),
      expire = StandingState.expireMedia(_, statePath, standingMediaPath, _),
      ingest = ingestMediaBatch(_, statePath, standingMediaPath, maxHamming, phashOf))

  /** One micro-batch of [[runMediaStream]], usable standalone: decode +
    * phash the FRESH records only (replays are split off first, so a
    * committed record is never decoded again), dedup vs the persisted
    * bands, then append the admitted records + their artifacts through
    * [[ingestBatch]]. Returns the admitted count. */
  def ingestMediaBatch(
      batch: DataFrame,
      statePath: String,
      standingMediaPath: String,
      maxHamming: Int = 8,
      phashOf: DataFrame => DataFrame = graft.llm.Multimodal.imagePhash): Long = {
    val spark = batch.sparkSession
    ingestBatch(batch, statePath, Intake[(DataFrame, DataFrame, Int)](
      StandingState.mediaKind(spark, statePath, standingMediaPath, phashOf),
      prepare = identity,
      load = () => StandingState.loadMediaState(spark, statePath),
      admit = { case (fresh, _, (standingPh, standingBands, nBands)) =>
        // decode + hash ONCE per fresh record, executor-side; payload
        // bytes never hit the driver
        val freshPh = phashOf(fresh).localCheckpoint(false)
        val admittedPh = graft.llm.Multimodal.phashNearDupIncrementalVsBands(
          freshPh, standingBands, standingPh, nBands, maxHamming)
        // the record columns AND the phash: the commit appends the
        // former and derives the artifacts from the latter, undecoded
        fresh.join(admittedPh, Seq("media_id"))
      }))
  }

  /** One micro-batch of [[runTextStream]], usable standalone — e.g. a
    * scripted daily ingest drives the exact same code path batch-by-batch
    * (q75 replays q63's scenario through it):
    *
    *   gate -> scrub -> exact dedup vs persisted digests (+ within-batch)
    *     -> LSH near-dedup vs persisted bands (+ within-batch, lower-id
    *        wins) -> append admitted text to the corpus table -> append
    *        admitted digests + band rows to the state -> census bump
    *
    * `gate = false` / `scrub = false` skip stages 1-2 for pre-prepared
    * batches (the q63/q75 shape, where the batch is raw corpus text and
    * the dedup semantics are under test); the trained `gates` run between
    * the rule gate and the scrub in the pipeline's pinned order. Scrub is
    * deterministic, so a replayed batch's text equals its corpus text.
    * The census, when the state keeps one, is bumped LAST in the commit,
    * so every crash shape leaves it UNDER-counting — the drift
    * [[StandingState.reconcileSourceCensus]] heals on every replay.
    * Returns the admitted count.
    *
    * Shape at scale: stages 1-2 are per-row projections over the batch;
    * the exact leg shuffles 16-byte digests against the digest table; the
    * near leg joins batch band rows against the persisted band table
    * (zero standing x standing work) and touches standing TEXT only for
    * semi-join-pruned candidate verification — per-batch cost is O(batch
    * + collisions), never O(corpus). */
  def ingestTextBatch(
      batch: DataFrame,
      statePath: String,
      standingDocsPath: String,
      tau: Double,
      minWords: Int = 20,
      maxWords: Int = 100000,
      gate: Boolean = true,
      scrub: Boolean = true,
      gates: TrainedGates = TrainedGates()): Long = {
    val spark = batch.sparkSession
    ingestBatch(batch, statePath, Intake[StandingState](
      StandingState.textKind(spark, statePath, standingDocsPath),
      prepare = { b =>
        val rgated =
          if (gate) TextOps.gopherGate(b, minWords = minWords, maxWords = maxWords)
          else b
        // 1b + 1c. the trained gates in the pipeline's pinned order (rule
        // gate -> quality -> language -> scrub), through CorpusPipeline's
        // shared transforms — FUSED over one featurize when both gates
        // share m (applyTrainedGates, spec-pinned equal to the sequential
        // form). No barrier of its own: the skeleton's id-split checkpoint
        // is the single consumer and caches the whole prefix.
        val gated = graft.llm.CorpusPipeline.applyTrainedGates(
          rgated, gates.qualityGate, gates.keepLangs)
        if (scrub) scrubPii(gated) else gated
      },
      load = () => StandingState.load(spark, statePath),
      admit = { (fresh, standing, state) =>
        val meta = state.meta
        val fp: DataFrame => DataFrame =
          if (meta.normalizedFingerprints) TextOps.normalized(_) else identity
        val unfp: DataFrame => DataFrame =
          if (meta.normalizedFingerprints)
            _.withColumn("text", col("raw_text")).drop("raw_text")
          else identity
        val exact = Dedup.exactIncrementalVsDigests(fresh, state.digests)
        unfp(Dedup.dedupNearLshIncrementalVsBands(
          fp(exact), state.bands, fp(standing).select("doc_id", "text"),
          tau, meta.shingleSize, meta.numHashes, meta.bandRows))
      },
      // a crash that stranded the census bump behind the corpus append is
      // only reachable through a replay (no-op sans census)
      onReplay = () =>
        StandingState.reconcileSourceCensus(spark, statePath, standingDocsPath),
      commitLast = admitted =>
        if (StandingState.sourceCensusExists(spark, statePath))
          StandingState.bumpSourceCensus(spark, statePath, admitted)))
  }

  /** One state kind's ADMISSION step — everything the shared batch
    * skeleton ([[ingestBatch]]) leaves to the kind:
    *
    *  - `prepare`    — per-row transforms before the replay split (text:
    *                   gates + scrub; vectors: the zero-norm reject);
    *  - `load`       — the kind's standing state, loaded before the split
    *                   and RELOADED after a drift repair;
    *  - `admit`      — (fresh rows, standing primary, state) -> the
    *                   admitted rows, carrying the primary's columns;
    *  - `onReplay`   — run once when the batch holds replays;
    *  - `commitLast` — the last step of the commit, under its lease. */
  private final case class Intake[S](
      kind: StandingState.Kind,
      prepare: DataFrame => DataFrame,
      load: () => S,
      admit: (DataFrame, DataFrame, S) => DataFrame,
      onReplay: () => Unit = () => (),
      commitLast: DataFrame => Unit = _ => ())

  /** THE STATE-FED INTAKE PROTOCOL — one skeleton for the text, vector
    * and media intakes, and the batch-side half of the reference's
    * resume-by-replay follower (`block_follower_job.rb:111-138`): a
    * micro-batch dedups against PERSISTED standing state and commits
    * its admitted rows back to the primary table and the artifact
    * tables, so a crash never needs Structured-Streaming state to
    * recover. Per attempt:
    *
    *   1. REPLAY SPLIT — ids are contractually unique and disjoint from
    *      standing, so id-presence in the primary IS the replay witness:
    *      replayed rows are never re-appended.
    *   2. DRIFT REPAIR — replayed rows missing from the witness table
    *      (the crash window between the primary append and the
    *      artifacts) get their artifacts completed in place, so a BARE
    *      retry is safe without the startup repair; then the state
    *      reloads. Healthy batches skip this (a 1-row replay probe).
    *   3. ADMISSION — the kind's own dedup over the fresh rows; a
    *      barrier + count in ONE job pins the admitted frame (whose plan
    *      reads the tables the commit writes) before any append, and an
    *      admit-nothing batch commits nothing (no lease, no empty
    *      appends).
    *   4. COMMIT — under ONE retried lease hold: the primary first, then
    *      the artifacts with the witness last, then the kind's last step.
    *      Every crash shape leaves the torn ids missing from the witness
    *      — exactly the drift step 2 and the startup repair complete —
    *      and the shared hold serializes the appends against a live
    *      compaction's swap.
    *
    * A replayed batch's admitted rows already sit in the primary with
    * their artifacts, so its replay admits nothing: no duplicate
    * appends, no admission lost. LIVE-COMPACTION COEXISTENCE: a scan
    * whose pinned file list straddles a concurrent swap's rename fails
    * mid-batch; the attempt is idempotent, so the batch gets three
    * attempts (backoff 250 ms x attempt). Lease-timeout
    * `IllegalStateException`s are NOT retried: a crashed holder needs
    * [[StandingState.breakLease]], and a retry would re-spin the wait. */
  private def ingestBatch[S](batch: DataFrame, statePath: String, intake: Intake[S]): Long = {
    val attempts = 3
    var last: Throwable = null
    var attempt = 0
    while (attempt < attempts) {
      try return ingestOnce(batch, statePath, intake)
      catch {
        case e: IllegalStateException => throw e
        case scala.util.control.NonFatal(e) =>
          last = e
          attempt += 1
          if (attempt < attempts) Thread.sleep(250L * attempt)
      }
    }
    throw last
  }

  /** One attempt of [[ingestBatch]]. */
  private def ingestOnce[S](batch: DataFrame, statePath: String, intake: Intake[S]): Long = {
    val spark = batch.sparkSession
    val kind = intake.kind
    var state = intake.load()
    val standing = Tables.read(spark, kind.primary)
    // no distinct on the standing id column: ids are unique in the
    // primary, and the distinct cost an aggregation stage per batch
    val marked = intake.prepare(batch).join(
        standing.select(kind.id).withColumn("__in_standing", lit(1)),
        Seq(kind.id), "left")
      .localCheckpoint(false)
    val fresh = marked.filter(col("__in_standing").isNull).drop("__in_standing")
    val replayed = marked.filter(col("__in_standing").isNotNull).drop("__in_standing")
    if (replayed.limit(1).count() > 0) {
      val witnessIds = Tables.read(spark, s"$statePath/${kind.witness}")
        .select(kind.id).distinct()
      val drifted = replayed.join(witnessIds, Seq(kind.id), "left_anti")
        .localCheckpoint(true) // consumed by the artifact append AND the count
      if (drifted.count() > 0) {
        val append = kind.appendFor(drifted)
        StandingState.withLeaseRetry(spark, statePath, s"ingest${kind.name}Batch:repair") {
          append()
        }
        // the loaded state's file index predates the repair append
        state = intake.load()
      }
      intake.onReplay()
    }
    val admitted = intake.admit(fresh, standing, state).localCheckpoint(false)
    val nAdmitted = admitted.queryExecution.toRdd.count()
    if (nAdmitted == 0L) return 0L
    val cols = standing.columns.toIndexedSeq
    val appendArtifacts = kind.appendFor(admitted)
    StandingState.withLeaseRetry(spark, statePath, s"ingest${kind.name}Batch:commit") {
      graft.llm.Frames.sizedWrite(admitted.select(cols.head, cols.tail: _*))
        .write.mode("append").parquet(kind.primary)
      appendArtifacts()
      intake.commitLast(admitted)
    }
    nAdmitted
  }

  /** The state-fed STREAM RUNNER shared by [[runTextStream]],
    * [[runEmbeddingStream]] and [[runMediaStream]]: the kind's repair runs
    * ONCE at startup, so a restarted stream always resumes from a
    * consistent (primary, state) pair; then each micro-batch runs the
    * kind's expire when `retention` is due (BEFORE the ingest, so
    * replicas of just-expired content re-admit in the same trigger),
    * then `beforeIngest`, then the ingest. */
  private def runStateStream(
      input: DataFrame,
      checkpoint: String,
      trigger: Trigger,
      retention: Option[Retention],
      repair: SparkSession => Unit,
      expire: (SparkSession, Column) => Long,
      ingest: DataFrame => Long,
      beforeIngest: (SparkSession, Long) => Unit = (_, _) => ()): StreamingQuery = {
    repair(input.sparkSession)
    input.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        retention.filter(_.due(id)).foreach(r => expire(b.sparkSession, r.expired))
        beforeIngest(b.sparkSession, id)
        ingest(b.toDF())
        ()
      }
      .start()
  }

  /** Stage 2 — the PII scrub: `text` rewritten by [[TextOps.redactPii]]. */
  private def scrubPii(docs: DataFrame): DataFrame =
    TextOps.redactPii(docs, "text")
      .drop("text", "n_email", "n_ipv4", "n_phone")
      .withColumnRenamed("redacted", "text")
}
