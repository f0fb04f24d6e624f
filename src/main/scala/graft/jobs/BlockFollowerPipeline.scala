package graft.jobs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Model
import graft.ops.{BlockOps, FollowerConfig}
import graft.sink.{KvPubSubSink, PublishMode}
import graft.streaming.JsonlReplaySource

/** The `meeseeker sync` lifecycle (SURVEY §3.1) on Spark: source -> explode
  * -> normalize -> key -> [summaries] -> sink, as one declarative plan per
  * micro-batch. Batch and streaming share the exact same transform chain —
  * the streaming entry just wraps it in foreachBatch.
  */
object BlockFollowerPipeline {

  /** Parse raw JSONL block lines (from the replay source or files). */
  def parseBlocks(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), Model.blockSchema).as("b")).select("b.*")

  def parseVops(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), Model.vopSchema).as("v")).select("v.*")

  /** Control key parking batch `batchId`'s final summary for its successor.
    * Keyed per batch so a foreachBatch RETRY of batch i still finds batch
    * i-1's summary intact (a single mutable key would already have been
    * overwritten by the failed attempt — content loss, not a benign
    * duplicate). Writes are deterministic recomputations => idempotent. */
  def pendingSummaryKey(cfg: FollowerConfig, batchId: Long): String =
    s"${cfg.chain}:graft:pending_summary:$batchId"

  /** Run the whole pipeline over one (batch or micro-batch) block frame.
    *
    * With `carrySummaries` (the streaming path), the summary of the
    * batch-final trx prefix is parked under [[pendingSummaryKey]] and
    * published at the head of the next non-empty batch (see
    * [[FollowerBatch.run]]), so an N-micro-batch replay produces the exact
    * publish sequence of a single continuous run.
    *
    * In `Strict` mode the drain places summaries and block headers itself
    * ([[BlockOps.placeSummaries]] over [[BlockOps.drainRows]]), so the
    * batch plans no window, join or aggregate; `RelaxedPerBlock` publishes
    * the relational [[BlockOps.channelMessagesFrom]] form. Either drain SETs
    * each op's record right before its notification, and the checkpoint key
    * at each block header; a one-partition Strict batch runs one Spark job
    * ([[FollowerBatch.run]]). */
  def processBatch(
      blocks: DataFrame,
      vops: DataFrame,
      cfg: FollowerConfig,
      backendName: String,
      carrySummaries: Boolean = false,
      batchId: Long = 0L,
      publishMode: PublishMode = PublishMode.Strict): Unit = {
    val checkpoint = KvPubSubSink.Checkpoint(
      BlockOps.blockChannel(cfg), cfg.chain + Model.LastBlockNumKeySuffix)
    FollowerBatch.run(blocks, backendName, checkpoint, cfg.ttlSeconds,
        Option.when(carrySummaries)((id: Long) => pendingSummaryKey(cfg, id)), batchId) {
        (prev, follower) =>
      val ops = BlockOps.allOps(blocks, vops, cfg)
      val keyed = BlockOps.keyedOps(ops, cfg)
      publishMode match {
        case PublishMode.Strict =>
          KvPubSubSink.publishPlaced(BlockOps.drainRows(blocks, keyed, cfg), backendName,
            BlockOps.messageSortCols, follower, BlockOps.placeSummaries(cfg, prev, carrySummaries))
        case PublishMode.RelaxedPerBlock =>
          // the carried summary is the one corrected mode places last
          val messageCfg = if (carrySummaries) cfg.copy(strictParity = false) else cfg
          KvPubSubSink.publishCarrying(BlockOps.channelMessagesFrom(blocks, ops, keyed, messageCfg),
            backendName, BlockOps.messageSortCols, publishMode,
            Option.when(carrySummaries)(KvPubSubSink.Carry(prev, _ => s"${cfg.chain}:transaction")),
            Some(follower))
      }
    }
  }

  /** Streaming entry: replay-source (or any (idx, value) JSONL stream) of
    * blocks, optional static vops lookup frame, foreachBatch sink.
    *
    * Virtual-op late arrival (§4.3): in production the vops frame is the
    * bounded re-poll of get_ops_in_block unioned per micro-batch; the
    * reference's 3-retry give-up maps to the source's retry budget, and
    * strict ordering within a batch is restored by the sink sort.
    */
  def runStream(
      spark: SparkSession,
      blocksJsonl: String,
      vopsJsonl: Option[String],
      cfg: FollowerConfig,
      backendName: String,
      checkpointDir: String,
      linesPerTrigger: Long = 2L): StreamingQuery =
    runStreamFrom(spark, JsonlReplaySource.stream(spark, blocksJsonl, linesPerTrigger),
      vopsJsonl, cfg, backendName, checkpointDir)

  /** Stream entry over ANY raw (idx, value) block stream — the replay
    * source or the production [[graft.streaming.JsonRpcBlockSource]]. */
  def runStreamFrom(
      spark: SparkSession,
      rawBlocks: DataFrame,
      vopsJsonl: Option[String],
      cfg: FollowerConfig,
      backendName: String,
      checkpointDir: String,
      publishMode: PublishMode = PublishMode.Strict,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {

    // Static side of the union: fixture vops, filtered per batch to the
    // blocks present in that batch (the per-micro-batch enrichment of A2).
    val allVops = vopsJsonl match {
      case Some(p) => parseVops(spark.read.text(p))
      case None => emptyVops(spark)
    }

    FollowerBatch.stream(rawBlocks, checkpointDir, trigger) { (batch, batchId) =>
      val blocks = parseBlocks(batch)
      val batchVops = allVops.join(
        blocks.select(col("block_num").as("b_bn")),
        col("block") === col("b_bn"), "left_semi")
      processBatch(blocks, batchVops, cfg, backendName,
        carrySummaries = true, batchId = batchId, publishMode = publishMode)
    }
  }

  /** No vops, as an empty local relation: the optimizer then drops the
    * whole vops leg (semi-join, `normalizeVops` window, union) from the
    * batch's plan, which an empty RDD would keep. */
  def emptyVops(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), Model.vopSchema)
}
