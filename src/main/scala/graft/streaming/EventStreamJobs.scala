package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state sessionization types (see
  * [[EventStreamJobs.customSessions]]). */
final case class SessionEvent(ts: Timestamp, user_id: Long)
final case class SessionState(start: Long, last: Long, n: Long)
final case class ClosedSession(
    user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)

/** Streaming MinHash-band dedup types (see
  * [[EventStreamJobs.streamingBandCollisions]]). */
final case class BandRow(ts: Timestamp, doc_id: Long, band: Int, sig: String)
final case class BandAnchor(anchor_doc: Long, last: Long)
final case class BandCollision(doc_a: Long, doc_b: Long, band: Int, ts: Timestamp)

/** Streaming near-dup INTAKE types (see
  * [[EventStreamJobs.streamingBandVerdicts]]): band rows carrying the doc
  * payload, anchors that remember the anchor doc's text (for in-state
  * exact verification), and the per-(doc, band) admit/drop verdict. */
final case class BandDocRow(ts: Timestamp, doc_id: Long, text: String, band: Int, sig: String)
final case class BandAnchorDoc(anchor_doc: Long, text: String, last: Long)
final case class DocBandVerdict(
    ts: Timestamp, doc_id: Long, text: String, band: Int, dropped: Boolean)

/** Streaming analytics over the `events` stream shape (F6/F7): watermarked
  * tumbling/session windows and streaming dedup — the Structured Streaming
  * twins of the batch queries Q14/Q15/Q5 and the schedule dedup D3.
  *
  * All state here is watermark-bounded: at 100 TB the same plans run with
  * the RocksDB state store and scale by key partitioning (window x type,
  * user_id, next_shuffle_block_num respectively); late data beyond the
  * watermark is dropped exactly like the reference's bounded vop retry
  * gives up after its horizon (block_follower_job.rb:197-207).
  */
object EventStreamJobs {

  /** Production state-store posture for the stateful jobs below (the 100 TB
    * leg of F6/F7): RocksDB-backed state with changelog checkpointing (per
    * commit, upload the delta instead of a full snapshot) and bounded
    * off-heap memory, so window/session/dedup state scales with disk, not
    * executor heap. Apply with [[withRocksDbState]] before starting queries;
    * the HDFS-backed default remains correct for small state (every spec
    * runs both, see EventStreamJobsSpec). */
  val rocksDbStateStoreConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
  )

  def withRocksDbState(spark: org.apache.spark.sql.SparkSession): Unit =
    rocksDbStateStoreConf.foreach { case (k, v) => spark.conf.set(k, v) }

  /** Watermarked tumbling-window rollup (Q14's streaming form). Late events
    * beyond `watermark` are dropped; output mode `update`/`append` both
    * work downstream. */
  def windowedEventCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("day"), col("event_type"), col("n_events"))

  /** Watermarked session windows per user (Q15's streaming form). */
  def sessionizedCounts(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Streaming publish-once dedup (the witness-schedule D3 semantics):
    * first row per next_shuffle_block_num within the watermark horizon. */
  def dedupSchedules(schedules: DataFrame, watermark: String): DataFrame =
    schedules
      .withWatermark("fetched_at", watermark)
      .dropDuplicates("next_shuffle_block_num")

  /** Streaming exact corpus dedup — the [NS] streaming twin of
    * [[graft.llm.Dedup.exact]]: emit the FIRST document per dedup key
    * (default: the text itself — use a fingerprint column for long docs),
    * suppressing cross-micro-batch duplicates. State is one entry per
    * distinct key, expired once the event-time watermark passes the key's
    * first arrival (`dropDuplicatesWithinWatermark`): a late re-arrival
    * inside the horizon is still deduped, state stays bounded instead of
    * growing with corpus distinct count — the property that lets this run
    * forever on RocksDB at ingest scale. Exactly the semantics a streaming
    * training-data intake wants: "never admit a doc I admitted recently." */
  def streamingExactDedup(
      docs: DataFrame,
      tsCol: String,
      watermark: String,
      on: Seq[String] = Seq("text")): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(on)

  /** Streaming NEAR-exact dedup: admit the first document per minhash
    * SIGNATURE within the watermark horizon. Signature equality (all
    * `numHashes` minima identical) is the standard near-exact criterion —
    * it collapses trivially-perturbed re-crawls whose shingle sets are
    * (near-)identical, while texts differing in any meaningful way keep
    * distinct signatures. Honest scope note: this is NOT the full banded
    * LSH near-dup (a doc colliding on some-but-not-all bands is admitted);
    * pair-level near-dup at a Jaccard threshold needs the batch pipeline
    * ([[graft.llm.TextOps.lshNearDupPairs]]) over an accumulated corpus.
    * Per-row native signature -> one dedup state entry per recent distinct
    * signature; docs too short to sign (< k tokens) fall back to
    * exact-text dedup (prefixed so a raw text can never alias a
    * signature string). */
  def streamingNearExactDedup(
      docs: DataFrame,
      tsCol: String,
      watermark: String,
      k: Int = 3,
      numHashes: Int = 16): DataFrame = {
    val sig = graft.llm.TextOps.minhashSigCol(k, numHashes)
    docs
      .withColumn("__sig",
        when(sig.isNotNull, concat_ws("#", sig))
          .otherwise(concat(lit("raw:"), col("text"))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")
  }

  /** Streaming MINHASH-BAND near-dup — the missing leg between
    * [[streamingNearExactDedup]] (full-signature equality: collapses only
    * (near-)identical shingle sets) and the batch pair pipeline
    * ([[graft.llm.TextOps.lshNearDupPairs]]): per-band LSH collision
    * detection with custom state, so the intake path surfaces
    * PARTIAL-signature matches — true near-dups at banding resolution —
    * without a batch pass over an accumulated corpus.
    *
    * Each doc melts to `numHashes / bandRows` band-key rows (per-row
    * native signatures, [[graft.llm.TextOps.bandRowsDF]] — the identical
    * banding the batch path uses, so a pair this stream surfaces is
    * exactly a pair the batch LSH would candidate). State per band key =
    * the ANCHOR (first-admitted) doc_id + last collision time — the
    * band-key -> min-doc map of the batch bucket machinery, kept
    * incrementally: every later doc colliding on that key emits
    * (doc_a = anchor, doc_b = newcomer, band, ts). State expires once the
    * event-time watermark passes `last + horizonMs` (sliding horizon:
    * a key that keeps colliding stays hot), so state is bounded by the
    * recent distinct-band-key count and runs on RocksDB unchanged.
    *
    * Honest scope: output is CANDIDATE pairs (>= 1 full-band collision),
    * deduplicated per key but possibly repeated across bands/batches —
    * downstream either treats any collision as a drop signal (the
    * standard streaming approximation: `foreachBatch` anti-join on
    * distinct doc_b) or exact-verifies candidates with
    * [[graft.llm.TextOps.verifyPairs]] semantics over the doc store.
    * Docs with < k tokens produce no bands (cannot near-dup at shingle
    * resolution); route them through [[streamingExactDedup]]. */
  def streamingBandCollisions(
      docs: DataFrame,
      tsCol: String,
      watermark: String,
      horizonMs: Long,
      k: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 2): Dataset[BandCollision] = {
    val spark = docs.sparkSession
    import spark.implicits._

    def stateFn(
        key: String,
        rows: Iterator[BandRow],
        state: GroupState[BandAnchor]): Iterator[BandCollision] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        // arrival order within the batch: event time, then doc_id — the
        // deterministic "first doc wins" anchor the batch bucket path's
        // min-id policy degenerates to under in-order arrival
        val sorted = rows.toVector.sortBy(r => (r.ts.getTime, r.doc_id))
        var cur = state.getOption
        var out = Vector.empty[BandCollision]
        sorted.foreach { r =>
          cur match {
            case Some(a) =>
              if (r.doc_id != a.anchor_doc)
                out :+= BandCollision(a.anchor_doc, r.doc_id, r.band, r.ts)
              cur = Some(BandAnchor(a.anchor_doc, math.max(a.last, r.ts.getTime)))
            case None =>
              cur = Some(BandAnchor(r.doc_id, r.ts.getTime))
          }
        }
        cur.foreach { a =>
          state.update(a)
          state.setTimeoutTimestamp(a.last + horizonMs)
        }
        out.iterator
      }
    }

    val sigCol = graft.llm.TextOps.minhashSigCol(k, numHashes)
    val nBands = numHashes / bandRows
    require(numHashes % bandRows == 0, "numHashes must be divisible by bandRows")
    val bandKeys = (0 until nBands).map { b =>
      concat_ws("#", (0 until bandRows).map(r => col("__sig")(b * bandRows + r)): _*)
    }
    docs
      .withColumn("__sig", sigCol)
      .filter(col("__sig").isNotNull)
      .select(col(tsCol).as("ts"), col("doc_id"), col("__sig"))
      .withWatermark("ts", watermark)
      .select(col("ts"), col("doc_id"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "sig")))
      .as[BandRow]
      .groupByKey(r => s"${r.band}#${r.sig}")
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(stateFn)
  }

  /** Plain-Scala exact-Jaccard between two docs' DISTINCT k-shingle sets —
    * [[graft.llm.TextOps.verifyPairs]] semantics (J = common / (na + nb -
    * common) over distinct k-token shingles of split(text, ' ')) evaluated
    * inside the state function, where no DataFrame machinery exists. */
  private def jaccardK(a: String, b: String, k: Int): Double = {
    def sh(s: String): Set[String] = {
      val t = s.split(" ", -1)
      if (t.length < k) Set.empty
      else (0 to t.length - k).map(i => t.slice(i, i + k).mkString(" ")).toSet
    }
    val sa = sh(a)
    val sb = sh(b)
    val common = (sa & sb).size
    if (sa.isEmpty || sb.isEmpty) 0.0
    else common.toDouble / (sa.size + sb.size - common)
  }

  /** [[streamingBandCollisions]] recast as an ADMISSION stream — the shape
    * the near-dup intake option composes over ([[CorpusIntakeJob
    * .intakeNearDup]]): every (doc, band) row comes back with a verdict
    * instead of only collisions, so a per-batch roll-up can decide
    * admission without a second pass over the doc stream (a doc's
    * `numHashes / bandRows` band rows all derive from one input row, so
    * they land in the same micro-batch and the "dropped on ANY band" OR is
    * batch-local — [[CorpusIntakeJob.admittedDocs]]).
    *
    * Identical banding and anchor policy to [[streamingBandCollisions]]
    * (first doc per band key anchors; watermark-expired sliding horizon).
    * `verifyTau = None` treats any full-band collision as a drop signal
    * (the standard streaming approximation); `Some(tau)` EXACT-VERIFIES
    * in-state against the anchor doc's text with [[jaccardK]] — the state
    * then carries one doc text per live band key (bounded, RocksDB-backed
    * at scale; the batch path's equivalent is the shingle-set join, here
    * it is a per-collision in-memory Jaccard). A failed verification
    * leaves the anchor unchanged and admits the row for that band. */
  def streamingBandVerdicts(
      docs: DataFrame,
      tsCol: String,
      watermark: String,
      horizonMs: Long,
      verifyTau: Option[Double] = None,
      k: Int = 3,
      numHashes: Int = 16,
      bandRows: Int = 2): Dataset[DocBandVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(numHashes % bandRows == 0, "numHashes must be divisible by bandRows")

    def stateFn(
        key: String,
        rows: Iterator[BandDocRow],
        state: GroupState[BandAnchorDoc]): Iterator[DocBandVerdict] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val sorted = rows.toVector.sortBy(r => (r.ts.getTime, r.doc_id))
        var cur = state.getOption
        var out = Vector.empty[DocBandVerdict]
        sorted.foreach { r =>
          cur match {
            case Some(a) =>
              val dropped = r.doc_id != a.anchor_doc &&
                verifyTau.forall(tau => jaccardK(a.text, r.text, k) >= tau)
              out :+= DocBandVerdict(r.ts, r.doc_id, r.text, r.band, dropped)
              cur = Some(a.copy(last = math.max(a.last, r.ts.getTime)))
            case None =>
              out :+= DocBandVerdict(r.ts, r.doc_id, r.text, r.band, dropped = false)
              cur = Some(BandAnchorDoc(r.doc_id, r.text, r.ts.getTime))
          }
        }
        cur.foreach { a =>
          state.update(a)
          state.setTimeoutTimestamp(a.last + horizonMs)
        }
        out.iterator
      }
    }

    val sigCol = graft.llm.TextOps.minhashSigCol(k, numHashes)
    val nBands = numHashes / bandRows
    val bandKeys = (0 until nBands).map { b =>
      concat_ws("#", (0 until bandRows).map(r => col("__sig")(b * bandRows + r)): _*)
    }
    docs
      .withColumn("__sig", sigCol)
      .filter(col("__sig").isNotNull) // < k tokens: unsignable (the intake's
      // gate admits nothing that short — route raw streams' short docs
      // through streamingExactDedup)
      .select(col(tsCol).as("ts"), col("doc_id"), col("text"), col("__sig"))
      .withWatermark("ts", watermark)
      .select(col("ts"), col("doc_id"), col("text"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "sig")))
      .as[BandDocRow]
      .groupByKey(r => s"${r.band}#${r.sig}")
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(stateFn)
  }

  /** Streaming EMBEDDING dedup — the vector twin of the text dedups above:
    * admit the first vector per PQ code signature within the watermark
    * horizon. Codebooks come from an OFFLINE [[graft.llm.Pq.trainCodebooks]]
    * run (train batch on a corpus sample, apply streaming — the standard
    * split for learned quantizers); the signature is a pure per-row
    * projection, so the only state is one dedup entry per recent distinct
    * code cell. Resolution is the codebook's: two vectors collide iff they
    * quantize identically in EVERY subspace — near-exact semantic dedup,
    * not a pair-level cosine threshold (that needs the batch
    * [[graft.llm.Dedup]] paths over an accumulated corpus). */
  def streamingEmbeddingDedup(
      vecs: DataFrame,
      tsCol: String,
      watermark: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    vecs
      .withColumn("__sig", graft.llm.Pq.codeSignature(codebooks))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")

  /** Streaming trending terms, stage 1: watermarked tumbling-window token
    * counts over a document stream — the stateful half of the standard
    * two-stage streaming top-k. Append mode emits each (window, term)
    * count once the watermark closes the window; rank the closed windows
    * with [[topTermsPerWindow]] downstream (per sink micro-batch or over
    * the materialized table). Top-k itself is deliberately NOT stateful:
    * ranking inside the streaming agg would need arbitrary per-window
    * state for a result the closed-window counts already determine. */
  def windowedTermCounts(
      docs: DataFrame, tsCol: String, windowLen: String, watermark: String): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(split(col("text"), " ")).as("term"))
      .groupBy(window(col(tsCol), windowLen).as("w"), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("term"), col("n"))

  /** Stage 2 (stateless, batch): top-k terms per closed window. */
  def topTermsPerWindow(counts: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(col("n").desc, col("term"))
    counts.withColumn("rnk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** CUSTOM-STATE sessionization via `flatMapGroupsWithState` — the
    * arbitrary-stateful-processing twin of [[sessionizedCounts]], for
    * session logic `session_window` cannot express (emit-on-close payloads,
    * per-session invariants, custom timeout actions). State per user is a
    * 3-long struct (start, last, count); an EVENT-TIME timeout at
    * `last + gap` closes the session when the watermark passes it, so state
    * is watermark-bounded exactly like the built-in operator and runs on
    * the RocksDB store unchanged. Emits one row per CLOSED session
    * (append mode); in-batch gaps close sessions inline. */
  def customSessions(
      events: DataFrame, gapMs: Long, watermark: String): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._

    def stateFn(
        userId: Long,
        rows: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[ClosedSession] = {
      def closed(s: SessionState): ClosedSession =
        ClosedSession(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
      if (state.hasTimedOut) {
        val out = state.getOption.map(closed).toIterator
        state.remove()
        out
      } else {
        // fold this batch's events (ordered) into the session chain. A
        // late cross-batch event (within watermark) either OVERLAPS the
        // open session — merge, extending start backwards like the
        // built-in session_window — or falls in a disjoint EARLIER gap.
        // Earlier-disjoint events accumulate in their own chain (adjacent
        // late events within gapMs merge with EACH OTHER, exactly like
        // session_window would), held until the fold ends: the open
        // session's start can itself move backwards via overlap merges, so
        // whether the chain is truly disjoint is only decidable at the end.
        val sorted = rows.toVector.sortBy(_.ts.getTime)
        var emitted = Vector.empty[ClosedSession]
        var earlier: Option[SessionState] = None // strictly before cur's gap
        var cur = state.getOption
        def closedOf(s: SessionState): ClosedSession =
          ClosedSession(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t >= s.start - gapMs && t <= s.last + gapMs =>
              cur = Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1))
            case Some(s) if t > s.last + gapMs =>
              // open session closes; the earlier chain (bounded right by
              // it) can merge into it if the backward extensions connected
              // them, else it closes too — chronological emission order
              val merged = earlier match {
                case Some(a) if s.start - a.last <= gapMs =>
                  SessionState(a.start, s.last, a.n + s.n)
                case Some(a) =>
                  emitted :+= closedOf(a); s
                case None => s
              }
              earlier = None
              emitted :+= closedOf(merged)
              cur = Some(SessionState(t, t, 1))
            case Some(_) => // disjoint earlier than the open session
              earlier match {
                case Some(a) if t <= a.last + gapMs =>
                  earlier = Some(SessionState(a.start, math.max(a.last, t), a.n + 1))
                case Some(a) =>
                  emitted :+= closedOf(a)
                  earlier = Some(SessionState(t, t, 1))
                case None =>
                  earlier = Some(SessionState(t, t, 1))
              }
            case None =>
              cur = Some(SessionState(t, t, 1))
          }
        }
        // end of fold: the surviving earlier chain either connects to the
        // (possibly backward-extended) open session or is final
        (earlier, cur) match {
          case (Some(a), Some(s)) if s.start - a.last <= gapMs =>
            cur = Some(SessionState(a.start, math.max(a.last, s.last), a.n + s.n))
          case (Some(a), Some(_)) =>
            emitted :+= closedOf(a)
          case (Some(a), None) =>
            cur = Some(a)
          case _ => ()
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last + gapMs)
        }
        emitted.iterator
      }
    }

    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("user_id"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(stateFn)
  }
}
