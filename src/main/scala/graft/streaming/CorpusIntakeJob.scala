package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

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
  */
object CorpusIntakeJob {

  /** POLICY-DRIVEN RETENTION for the state-fed intakes — the reference's
    * daily TTL loop (`meeseeker.rb`'s EXPIRE) as a stream config instead
    * of an external job: every `everyBatches` micro-batches (on
    * `batchId % everyBatches == 0`, BEFORE that batch's ingest, so
    * replicas of just-expired content re-admit within the same trigger)
    * the stream itself runs the id-keyed expire
    * ([[StandingState.expire]] / [[StandingState.expireEmbeddings]] /
    * [[StandingState.expireMedia]]) with `expired` over the standing
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
    val gated = TextOps.gopherGate(docs, minWords = minWords, maxWords = maxWords)
    val scrubbed = TextOps.redactPii(gated, "text")
      .drop("text", "n_email", "n_ipv4", "n_phone")
      .withColumnRenamed("redacted", "text")
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
    val gated = TextOps.gopherGate(docs, minWords = minWords, maxWords = maxWords)
    val scrubbed = TextOps.redactPii(gated, "text")
      .drop("text", "n_email", "n_ipv4", "n_phone")
      .withColumnRenamed("redacted", "text")
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

  /** Streaming EMBEDDING intake against the PERSISTED standing state —
    * the vector twin of [[runStream]] with a different state posture:
    * there is ZERO Structured-Streaming state. Each micro-batch dedups
    * against the persisted sign-LSH bucket table
    * ([[StandingState.loadEmbBuckets]] feeding
    * [[Dedup.dedupByEmbeddingLshIncrementalVsBuckets]] — within-batch
    * lower-id collisions drop too) and the admitted vectors append to
    * BOTH the standing vector table and the bucket table, closing the
    * ingest cycle inside the stream. All state lives in the two parquet
    * tables, so executors stay stateless and the tables are shared with
    * the batch/[[graft.jobs.PrepareMain]] cycle.
    *
    * Crash-recovery admission is SELF-HEALING rather than stateful: if a
    * batch replays after its appends were committed, every replayed
    * vector now collides with its own standing copy (cosine 1 at any
    * tau <= 1) and is dropped — no duplicate appends, no admission lost
    * (spec-pinned). The residual window is a crash BETWEEN the two
    * appends (vectors committed, bucket rows not — or vice versa after a
    * manual reversed write): [[StandingState.repairEmbBuckets]] restores
    * the invariant, and this job runs it ONCE at startup, so a restarted
    * stream always resumes from a consistent pair of tables. The batch
    * stream must carry (vec_id, embedding [, label]); ids must be unique
    * across the stream and disjoint from standing. */
  def runEmbeddingStream(
      vecs: DataFrame,
      statePath: String,
      standingVecsPath: String,
      checkpoint: String,
      tau: Double,
      nPlanes: Int = 4,
      dim: Int = 64,
      trigger: Trigger = Trigger.ProcessingTime("3 seconds"),
      retention: Option[Retention] = None): StreamingQuery = {
    StandingState.repairEmbBuckets(vecs.sparkSession, statePath, standingVecsPath)
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        retention.filter(_.due(id)).foreach { r =>
          StandingState.expireEmbeddings(
            b.sparkSession, statePath, standingVecsPath, r.expired)
        }
        ingestEmbeddingBatch(b.toDF(), statePath, standingVecsPath, tau, nPlanes, dim)
        ()
      }
      .start()
  }

  /** One micro-batch of [[runEmbeddingStream]], factored out so the batch
    * leg is testable (and usable) standalone: dedup vs persisted buckets,
    * then append the admitted rows + their bucket rows. Returns the
    * admitted count.
    *
    * Carries the same RETRY SELF-REPAIR and live-compaction posture as
    * the text twin ([[ingestTextBatch]]): vec_ids already in the standing
    * vector table are replays of committed vectors (ids are contractually
    * unique and disjoint from standing) — never re-appended; replays
    * missing bucket rows (the crash window between the two appends) get
    * them completed in place, so a bare retry is safe without the
    * startup-only [[StandingState.repairEmbBuckets]] pass. Both appends
    * commit under ONE retried lease hold, and the whole attempt retries
    * through a concurrent compaction's transient swap window. */
  def ingestEmbeddingBatch(
      batch: DataFrame,
      statePath: String,
      standingVecsPath: String,
      tau: Double,
      nPlanes: Int = 4,
      dim: Int = 64): Long = {
    val spark = batch.sparkSession
    val attempts =
      math.max(1, spark.conf.get("spark.graft.intake.batchAttempts", "3").toInt)
    var last: Throwable = null
    var attempt = 0
    while (attempt < attempts) {
      try return ingestEmbeddingBatchOnce(
        batch, statePath, standingVecsPath, tau, nPlanes, dim)
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

  private def ingestEmbeddingBatchOnce(
      batch: DataFrame,
      statePath: String,
      standingVecsPath: String,
      tau: Double,
      nPlanes: Int,
      dim: Int): Long = {
    val spark = batch.sparkSession
    val withLabel =
      if (batch.columns.contains("label")) batch
      else batch.withColumn("label", lit(null).cast("string"))
    // ZERO-NORM vectors are REJECTED at intake: a zero vector has no
    // cosine direction, so it can never collide with anything — including
    // its own standing copy on a checkpoint replay, which would break the
    // self-healing admission contract (the replayed zero vector would be
    // re-appended on every replay, duplicating rows in both tables).
    // Rejecting at the door keeps the "replica always collides" invariant
    // total over everything admitted.
    val b0 = withLabel.filter(
      graft.llm.VectorOps.norm("embedding") =!= 0.0)
    val standingVecs = StandingState.readTable(spark, standingVecsPath)
    // RETRY SELF-REPAIR (see scaladoc): split replays off by id-presence,
    // complete the bucket rows of any caught in the crash window
    // no distinct on the standing id column: vec_ids are contractually
    // unique in the vector table, so the distinct bought nothing and
    // cost a dedicated aggregation stage per batch (round-19 diet —
    // same rule in the text and media twins)
    val marked = b0.select("vec_id", "embedding", "label").join(
        standingVecs.select("vec_id").withColumn("__in_standing", lit(1)),
        Seq("vec_id"), "left")
      .localCheckpoint(false)
    val b = marked.filter(col("__in_standing").isNull).drop("__in_standing")
    val replayed = marked.filter(col("__in_standing").isNotNull).drop("__in_standing")
    var buckets = StandingState.loadEmbBuckets(spark, statePath, nPlanes, dim)
    // healthy-case fast path — the text twin's discipline: only an actual
    // retry pays for the drift repair
    if (replayed.limit(1).count() > 0) {
      val drifted = replayed.join(
          buckets.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
        .localCheckpoint(true) // consumed by the bucket append AND the count
      if (drifted.count() > 0) {
        val rows = StandingState.embBucketRowsFor(drifted, statePath)
        StandingState.withLeaseRetry(spark, statePath, "ingestEmbeddingBatch:repair") {
          rows.write.mode("append").parquet(s"$statePath/emb_buckets")
        }
        // pinned file index predates the repair append — reload
        buckets = StandingState.loadEmbBuckets(spark, statePath, nPlanes, dim)
      }
    }
    // BARRIER + COUNT in one job (round-19 jobs-per-batch diet): the
    // lazy localCheckpoint materializes — fully, all partitions — inside
    // the count's single RDD job, so the admitted frame (whose plan
    // READS standingVecsPath) is pinned in executor storage before the
    // append below writes new files into that same directory; the eager
    // checkpoint + Dataset.count() form paid the same barrier as two to
    // three jobs.
    val admitted = Dedup.dedupByEmbeddingLshIncrementalVsBuckets(
      b, buckets,
      standingVecs.select("vec_id", "embedding"),
      tau, nPlanes, dim)
      .localCheckpoint(false)
    // vectors first, bucket rows second: a crash between the two leaves
    // admitted vectors WITHOUT bucket rows (future replicas would not
    // collide) — the batch-scoped repair above (and the startup
    // repairEmbBuckets pass) recomputes exactly the missing rows. Both
    // writes share one lease hold, serializing them against a live
    // compaction's swap of either table.
    // admit-nothing fast path (the text twin's rule): skip the lease and
    // the two zero-row append jobs
    val nAdmitted = admitted.queryExecution.toRdd.count()
    if (nAdmitted == 0L) return 0L
    val bucketRows = StandingState.embBucketRowsFor(admitted, statePath)
    StandingState.withLeaseRetry(spark, statePath, "ingestEmbeddingBatch:commit") {
      graft.llm.Frames.sizedWrite(admitted.select("vec_id", "embedding", "label"))
        .write.mode("append").parquet(standingVecsPath)
      graft.llm.Frames.sizedWrite(bucketRows)
        .write.mode("append").parquet(s"$statePath/emb_buckets")
    }
    nAdmitted
  }

  /** Streaming TEXT intake against the PERSISTED standing state — the
    * missing twin of [[runEmbeddingStream]], and the posture the
    * watermark-bounded [[runStream]] cannot provide: a doc that exactly or
    * nearly duplicates the STANDING CORPUS (not just a recently-streamed
    * anchor) is dropped, because each micro-batch dedups against the
    * persisted digest and LSH band tables
    * ([[Dedup.exactIncrementalVsDigests]] +
    * [[Dedup.dedupNearLshIncrementalVsBands]]) and admitted docs append
    * back to BOTH the corpus table and the state — the resume-don't-restart
    * semantics of the reference's block follower
    * (`block_follower_job.rb:111-138`), applied to continuous corpus
    * intake against yesterday's corpus.
    *
    * ZERO Structured-Streaming state, like the embedding twin: all state
    * lives in the shared parquet tables (corpus + `digests/` + `bands/`),
    * so executors stay stateless and the tables are shared with the
    * batch/[[graft.jobs.PrepareMain]] cycle. Crash-recovery admission is
    * SELF-HEALING: a replayed micro-batch's admitted docs already sit in
    * the corpus with their digests, so every replica collides with its own
    * standing copy (digest equality is byte-exact) and is dropped — no
    * duplicate appends, no admission lost. The residual window is a crash
    * between the corpus append and the artifact append;
    * [[StandingState.repairTextArtifacts]] restores the invariant and runs
    * ONCE here at startup, so a restarted stream always resumes from a
    * consistent (corpus, state) pair — and [[ingestTextBatch]] additionally
    * carries a batch-scoped retry self-repair (id-presence split + drift
    * completion), so even a bare batch retry without this startup pass
    * cannot duplicate corpus rows.
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
    StandingState.repairTextArtifacts(docs.sparkSession, statePath, standingDocsPath)
    // sourced gates load at stream start (the gates always mirror their
    // tables at batch 0, whether or not the caller pre-loaded them), then
    // rotate on the reloadEvery cadence; unsourced gates ride unchanged
    var liveGates =
      if (gates.qualitySource.nonEmpty || gates.langSource.nonEmpty)
        gates.reloaded(docs.sparkSession)
      else gates
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (gates.reloadDue(id))
          liveGates = liveGates.reloadedOrLastGood(b.sparkSession, id)
        retention.filter(_.due(id)).foreach { r =>
          StandingState.expire(
            b.sparkSession, statePath, standingDocsPath, r.expired)
        }
        // batch 0 is covered by the startup repair pass above; the
        // cadence heals BEFORE the batch's ingest so the batch's own
        // census bump lands on a reconciled table
        if (censusDeepEvery > 0L && id > 0L && id % censusDeepEvery == 0L)
          StandingState.reconcileSourceCensus(
            b.sparkSession, statePath, standingDocsPath, deep = true)
        ingestTextBatch(b.toDF(), statePath, standingDocsPath, tau,
          minWords = minWords, maxWords = maxWords, gates = liveGates)
        ()
      }
      .start()
  }

  /** Streaming MEDIA intake against the PERSISTED standing state — the
    * image/audio/video twin of [[runTextStream]]/[[runEmbeddingStream]]:
    * each micro-batch of media records (media_id, mime, n_bytes, payload)
    * is decoded and perceptually hashed executor-side (`phashOf` —
    * [[graft.llm.Multimodal.imagePhash]] by default; pass `audioPhash` /
    * `videoPhash` for those corpora, the state machinery is
    * representation-agnostic over the 64-bit hash string), deduplicated
    * against the persisted phash band table
    * ([[graft.llm.Multimodal.phashNearDupIncrementalVsBands]] — a
    * near-duplicate of ANY standing item, or of a lower-id batch item,
    * drops), and admitted records append to BOTH the standing media
    * table and the state. ZERO Structured-Streaming state; standing
    * payloads are never re-decoded (8 bytes of phash per standing item).
    *
    * Same crash posture as the text twin: replays self-heal (a replayed
    * batch's items collide with their own standing phashes at hamming
    * 0), [[StandingState.repairMediaArtifacts]] runs once at startup,
    * and [[ingestMediaBatch]] carries the batch-scoped id-presence
    * retry self-repair + single-lease commit + bounded whole-batch
    * retry, so the stream rides through live compactions. */
  def runMediaStream(
      media: DataFrame,
      statePath: String,
      standingMediaPath: String,
      checkpoint: String,
      maxHamming: Int = 8,
      phashOf: DataFrame => DataFrame = graft.llm.Multimodal.imagePhash,
      trigger: Trigger = Trigger.ProcessingTime("3 seconds"),
      retention: Option[Retention] = None): StreamingQuery = {
    StandingState.repairMediaArtifacts(
      media.sparkSession, statePath, standingMediaPath, phashOf)
    media.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        retention.filter(_.due(id)).foreach { r =>
          StandingState.expireMedia(
            b.sparkSession, statePath, standingMediaPath, r.expired)
        }
        ingestMediaBatch(b.toDF(), statePath, standingMediaPath, maxHamming, phashOf)
        ()
      }
      .start()
  }

  /** One micro-batch of [[runMediaStream]] — decode + phash the batch,
    * dedup vs the persisted bands, append admitted records + artifacts.
    * Returns the admitted count. Carries the full retry posture of the
    * text twin (see [[ingestTextBatch]]): id-presence self-repair,
    * single-lease commit, bounded whole-batch retry. */
  def ingestMediaBatch(
      batch: DataFrame,
      statePath: String,
      standingMediaPath: String,
      maxHamming: Int = 8,
      phashOf: DataFrame => DataFrame = graft.llm.Multimodal.imagePhash): Long = {
    val spark = batch.sparkSession
    val attempts =
      math.max(1, spark.conf.get("spark.graft.intake.batchAttempts", "3").toInt)
    var last: Throwable = null
    var attempt = 0
    while (attempt < attempts) {
      try return ingestMediaBatchOnce(
        batch, statePath, standingMediaPath, maxHamming, phashOf)
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

  private def ingestMediaBatchOnce(
      batch: DataFrame,
      statePath: String,
      standingMediaPath: String,
      maxHamming: Int,
      phashOf: DataFrame => DataFrame): Long = {
    val spark = batch.sparkSession
    var (standingPh, standingBands, nBands) =
      StandingState.loadMediaState(spark, statePath)
    val standingMedia = StandingState.readTable(spark, standingMediaPath)
    // RETRY SELF-REPAIR — the text twin's discipline: ids already in the
    // media table are replays of committed records (ids contractually
    // unique/disjoint); never re-appended, artifacts completed if the
    // crash window left them missing
    val marked = batch.join(
        standingMedia.select("media_id").withColumn("__in", lit(1)),
        Seq("media_id"), "left") // ids unique in the media table — no distinct
      .localCheckpoint(false)
    val fresh = marked.filter(col("__in").isNull).drop("__in")
    val replayed = marked.filter(col("__in").isNotNull).drop("__in")
    if (replayed.limit(1).count() > 0) {
      val drifted = replayed.join(
          standingBands.select("media_id").distinct(), Seq("media_id"), "left_anti")
        .localCheckpoint(true)
      if (drifted.count() > 0) {
        val ph = phashOf(drifted).localCheckpoint(true)
        StandingState.withLeaseRetry(spark, statePath, "ingestMediaBatch:repair") {
          StandingState.writeMediaArtifacts(ph, statePath, nBands)
        }
        val reloaded = StandingState.loadMediaState(spark, statePath)
        standingPh = reloaded._1
        standingBands = reloaded._2
      }
    }
    // decode + hash ONCE per fresh record, executor-side; payload bytes
    // never hit the driver
    val freshPh = phashOf(fresh).localCheckpoint(false)
    // BARRIER + COUNT in one job (the text twin's round-19 shape): the
    // lazy checkpoint materializes fully inside the count's single RDD
    // job, pinning the frame (whose plan READS the tables the commit
    // appends into) before any append runs
    val admittedPh = graft.llm.Multimodal.phashNearDupIncrementalVsBands(
        freshPh, standingBands, standingPh, nBands, maxHamming)
      .localCheckpoint(false)
    // admit-nothing fast path (the text twin's rule): skip the lease,
    // the media append, and the artifact append jobs
    val nAdmitted = admittedPh.queryExecution.toRdd.count()
    if (nAdmitted == 0L) return 0L
    val cols = standingMedia.columns.toIndexedSeq
    val admitted = fresh
      .join(admittedPh.select("media_id"), Seq("media_id"), "left_semi")
      .localCheckpoint(true)
    // media rows first, artifacts second (bands-absence is the drift
    // witness), both under ONE retried lease hold — the live-compaction
    // contract shared with the text and embedding twins
    StandingState.withLeaseRetry(spark, statePath, "ingestMediaBatch:commit") {
      graft.llm.Frames.sizedWrite(admitted.select(cols.head, cols.tail: _*))
        .write.mode("append").parquet(standingMediaPath)
      StandingState.writeMediaArtifacts(admittedPh, statePath, nBands)
    }
    nAdmitted
  }

  /** One micro-batch of [[runTextStream]], factored out so the batch leg
    * is testable (and usable) standalone — e.g. a scripted daily ingest
    * drives the exact same code path batch-by-batch (q75 replays q63's
    * scenario through it):
    *
    *   gate -> scrub -> exact dedup vs persisted digests (+ within-batch)
    *     -> LSH near-dedup vs persisted bands (+ within-batch, lower-id
    *        wins) -> append admitted text to the corpus table -> append
    *        admitted digests + band rows to the state
    *
    * `gate = false` / `scrub = false` skip stages 1-2 for pre-prepared
    * batches (the q63/q75 shape, where the batch is raw corpus text and
    * the dedup semantics are under test). Corpus append precedes the
    * state append deliberately: every crash shape then leaves drifted
    * docs missing from `bands/`, the witness
    * [[StandingState.repairTextArtifacts]] keys on. Returns the admitted
    * count.
    *
    * RETRY SELF-REPAIR: a caller retrying after a failure BETWEEN the
    * corpus append and the state append would otherwise duplicate corpus
    * rows — the half-committed docs have text in the corpus but no
    * digests, so their replicas sail through the exact leg. doc_ids are
    * contractually unique and disjoint from standing, so id-presence in
    * the corpus IS the replay witness: docs whose id is already in the
    * corpus are never re-appended; those among them missing from `bands/`
    * (the crash window) get their artifacts completed in place — the
    * [[StandingState.repairTextArtifacts]] drift repair restricted to the
    * batch, so it stays batch-shaped and runs on EVERY call, making a
    * bare retry safe without the startup-only repair pass. Healthy-case
    * cost: one broadcast id-join against the corpus id column and one
    * against the distinct band ids — both narrow single-column scans.
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
    // LIVE-COMPACTION COEXISTENCE: a concurrent [[StandingState.compact]]
    // swap can (a) hold the lease for its O(delta + rename) window — the
    // commit below WAITS via withLeaseRetry — and (b) invalidate a scan
    // whose pinned file list straddles the rename instant (the documented
    // transient-reader caveat), which surfaces as a mid-batch read
    // failure. The batch is idempotent under retry (the id-presence
    // self-repair above), so the whole attempt retries a bounded number
    // of times (`spark.graft.intake.batchAttempts`) instead of killing
    // the streaming query. Lease-timeout IllegalStateExceptions are NOT
    // swallowed: a crashed holder needs breakLease, and retrying would
    // just re-spin the same wait.
    val spark = batch.sparkSession
    val attempts =
      math.max(1, spark.conf.get("spark.graft.intake.batchAttempts", "3").toInt)
    var last: Throwable = null
    var attempt = 0
    while (attempt < attempts) {
      try return ingestTextBatchOnce(
        batch, statePath, standingDocsPath, tau, minWords, maxWords, gate,
        scrub, gates)
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

  private def ingestTextBatchOnce(
      batch: DataFrame,
      statePath: String,
      standingDocsPath: String,
      tau: Double,
      minWords: Int,
      maxWords: Int,
      gate: Boolean,
      scrub: Boolean,
      gates: TrainedGates): Long = {
    val spark = batch.sparkSession
    var state = StandingState.load(spark, statePath)
    val meta = state.meta
    val rgated =
      if (gate) TextOps.gopherGate(batch, minWords = minWords, maxWords = maxWords)
      else batch
    // 1b + 1c. the trained gates in the pipeline's pinned order (rule
    // gate -> quality -> language -> scrub), through CorpusPipeline's
    // shared transforms — FUSED over one featurize when both gates share
    // m (applyTrainedGates, spec-pinned equal to the sequential form),
    // so a both-gates batch pays one feature pass instead of two
    val gated = graft.llm.CorpusPipeline.applyTrainedGates(
      rgated, gates.qualityGate, gates.keepLangs)
    // the gate + PII-regex prefix needs no barrier of its own: `marked`
    // just below is the single consumer, and ITS lazy checkpoint caches
    // the whole prefix for the exact leg, the near leg, and the
    // surviving-row chain (a second buffer here only double-copied every
    // batch row through executor storage)
    val scrubbed0 =
      if (scrub)
        TextOps.redactPii(gated, "text")
          .drop("text", "n_email", "n_ipv4", "n_phone")
          .withColumnRenamed("redacted", "text")
      else gated
    val standingDocs = StandingState.readTable(spark, standingDocsPath)
    // RETRY SELF-REPAIR (see scaladoc): ids already in the corpus are
    // replays of committed docs — split them off so a retry after a
    // mid-append crash never re-appends their text, and complete the
    // artifacts of any that are missing from bands/ (the crash window).
    // Scrub is deterministic, so the replayed batch text == corpus text.
    val marked = scrubbed0.join(
        standingDocs.select("doc_id").withColumn("__in_corpus", lit(1)),
        Seq("doc_id"), "left") // ids unique in the corpus — no distinct
      .localCheckpoint(false)
    val scrubbed = marked.filter(col("__in_corpus").isNull).drop("__in_corpus")
    val replayed = marked.filter(col("__in_corpus").isNotNull).drop("__in_corpus")
    val cfg = graft.llm.CorpusPipeline.Config(
      shingleSize = meta.shingleSize,
      normalizeFingerprints = meta.normalizedFingerprints)
    // healthy-case fast path: no replays (the 1-row probe forces `marked`,
    // which the legs below need anyway) -> skip the drift machinery and
    // its band-id scan entirely; only an actual retry pays for repair
    if (replayed.limit(1).count() > 0) {
      val drifted = replayed.join(
          state.bands.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
        .localCheckpoint(true) // consumed by the artifact append AND the count
      if (drifted.count() > 0) {
        val (dg, bd) = StandingState.artifactsFor(drifted, cfg, meta)
        val sp = StandingState.spanHashesForState(drifted, state)
        StandingState.withLeaseRetry(spark, statePath, "ingestTextBatch:repair") {
          StandingState.writeArtifacts(dg, bd, statePath, sp)
        }
        // the state's pinned file index predates the repair append — reload
        // so the legs below dedup against the completed artifact tables
        state = StandingState.load(spark, statePath)
      }
      // a crash that stranded the census bump behind the corpus append is
      // only reachable through a replay — heal it here (no-op sans census)
      StandingState.reconcileSourceCensus(spark, statePath, standingDocsPath)
    }
    val fp: DataFrame => DataFrame =
      if (meta.normalizedFingerprints) TextOps.normalized(_) else identity
    val unfp: DataFrame => DataFrame =
      if (meta.normalizedFingerprints)
        _.withColumn("text", col("raw_text")).drop("raw_text")
      else identity
    val exact = Dedup.exactIncrementalVsDigests(scrubbed, state.digests)
    // BARRIER + COUNT in one job (round-19 jobs-per-batch diet): the
    // admitted frame's plan READS the corpus and state tables the
    // appends below write into, so it must fully materialize first —
    // the lazy localCheckpoint pins every partition in executor storage
    // inside the count's single RDD job, where the previous eager
    // checkpoint + Dataset.count() paid three jobs for the same barrier.
    val admitted = unfp(Dedup.dedupNearLshIncrementalVsBands(
        fp(exact), state.bands, fp(standingDocs).select("doc_id", "text"),
        tau, meta.shingleSize, meta.numHashes, meta.bandRows))
      .localCheckpoint(false)
    // an ADMIT-NOTHING batch (every doc gated out or deduped — the
    // steady state of a replay-heavy or duplicate-heavy feed) skips the
    // whole commit: the lease acquire, four empty appends, and the
    // census bump would each still cost a Spark job writing zero rows.
    val nAdmitted = admitted.queryExecution.toRdd.count()
    if (nAdmitted == 0L) return 0L
    // BOTH appends commit under ONE (retried) lease hold: corpus first,
    // artifacts second — see the repair contract above — and the shared
    // hold is what serializes the corpus append against a live
    // compaction's swap of that same directory (a file landing in the
    // corpus dir mid-rename would be deleted with the retired snapshot)
    val cols = standingDocs.columns.toIndexedSeq
    val (dg, bd) = StandingState.artifactsFor(admitted, cfg, meta)
    // span-index upkeep: when the state carries one, the admitted batch's
    // window hashes append with the other artifacts (same lease hold), so
    // a span-stage ingest tomorrow sees today's admissions as standing
    // (the span regime rides the loaded state — no per-batch re-probe)
    val sp = StandingState.spanHashesForState(admitted, state)
    // census upkeep is opt-in (iff the state maintains one) and updates
    // LAST in the commit, so every crash shape leaves it UNDER-counting —
    // exactly the drift reconcileSourceCensus detects and heals
    val censusOn = StandingState.sourceCensusExists(spark, statePath)
    StandingState.withLeaseRetry(spark, statePath, "ingestTextBatch:commit") {
      graft.llm.Frames.sizedWrite(admitted.select(cols.head, cols.tail: _*))
        .write.mode("append").parquet(standingDocsPath)
      StandingState.writeArtifacts(dg, bd, statePath, sp)
      if (censusOn) StandingState.bumpSourceCensus(spark, statePath, admitted)
    }
    nAdmitted
  }
}
